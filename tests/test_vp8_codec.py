"""codec/vp8.py: lossy VP8 key-frame decode, validated BIT-EXACT
against the system libwebp (the reference implementation of the
public spec, RFC 6386) across content types, sizes, qualities, loop
filter modes (normal/simple/none), segment counts, and token
partition counts.  The encoder side of the differential uses
libwebp's advanced API (WebPConfig via ctypes) so the suite can pin
decoder paths the simple API never emits (simple filter,
multi-partition streams, filter-free streams).

Also pins: bool-coder round-trip (the _BoolEnc writer used by the
mm_webp_decode gate corpus), truncation corrupt-skip, and the RIFF
dispatch through parse_webp.
"""

import ctypes
import ctypes.util
import random

import numpy as np
import pytest

from go_triton_spark.codec.vp8 import (VP8Error, _Bool, _BoolEnc,
                                       decode_vp8, parse_vp8)
from go_triton_spark.codec.vp8l import parse_webp

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")


# --- libwebp via ctypes ---------------------------------------------------

def _load_libwebp():
    for name in ("libwebp.so.7", "libwebp.so",
                 ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int, ctypes.c_int,
                ctypes.c_int, ctypes.c_float,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte))]
            lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_ubyte)
            lib.WebPDecodeYUV.argtypes = [
                ctypes.POINTER(ctypes.c_ubyte), ctypes.c_size_t,
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
                ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
                ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
            lib.WebPFree.argtypes = [ctypes.c_void_p]
        except AttributeError:
            continue
        return lib
    return None


_WEBP = _load_libwebp()
_webp_only = pytest.mark.skipif(_WEBP is None,
                                reason="libwebp not installed")


class _WebPConfig(ctypes.Structure):
    _fields_ = [(n, t) for n, t in (
        ("lossless", ctypes.c_int), ("quality", ctypes.c_float),
        ("method", ctypes.c_int), ("image_hint", ctypes.c_int),
        ("target_size", ctypes.c_int), ("target_PSNR", ctypes.c_float),
        ("segments", ctypes.c_int), ("sns_strength", ctypes.c_int),
        ("filter_strength", ctypes.c_int),
        ("filter_sharpness", ctypes.c_int),
        ("filter_type", ctypes.c_int), ("autofilter", ctypes.c_int),
        ("alpha_compression", ctypes.c_int),
        ("alpha_filtering", ctypes.c_int), ("alpha_quality", ctypes.c_int),
        ("pass_", ctypes.c_int), ("show_compressed", ctypes.c_int),
        ("preprocessing", ctypes.c_int), ("partitions", ctypes.c_int),
        ("partition_limit", ctypes.c_int),
        ("emulate_jpeg_size", ctypes.c_int), ("thread_level", ctypes.c_int),
        ("low_memory", ctypes.c_int), ("near_lossless", ctypes.c_int),
        ("exact", ctypes.c_int), ("use_delta_palette", ctypes.c_int),
        ("use_sharp_yuv", ctypes.c_int), ("qmin", ctypes.c_int),
        ("qmax", ctypes.c_int))]


class _WebPMemoryWriter(ctypes.Structure):
    _fields_ = [("mem", ctypes.POINTER(ctypes.c_ubyte)),
                ("size", ctypes.c_size_t), ("max_size", ctypes.c_size_t),
                ("pad", ctypes.c_uint32 * 1)]


class _WebPPicture(ctypes.Structure):
    _fields_ = [
        ("use_argb", ctypes.c_int), ("colorspace", ctypes.c_int),
        ("width", ctypes.c_int), ("height", ctypes.c_int),
        ("y", ctypes.POINTER(ctypes.c_ubyte)),
        ("u", ctypes.POINTER(ctypes.c_ubyte)),
        ("v", ctypes.POINTER(ctypes.c_ubyte)),
        ("y_stride", ctypes.c_int), ("uv_stride", ctypes.c_int),
        ("a", ctypes.POINTER(ctypes.c_ubyte)), ("a_stride", ctypes.c_int),
        ("pad1", ctypes.c_uint32 * 2),
        ("argb", ctypes.POINTER(ctypes.c_uint32)),
        ("argb_stride", ctypes.c_int), ("pad2", ctypes.c_uint32 * 3),
        ("writer", ctypes.c_void_p), ("custom_ptr", ctypes.c_void_p),
        ("extra_info_type", ctypes.c_int),
        ("extra_info", ctypes.POINTER(ctypes.c_ubyte)),
        ("stats", ctypes.c_void_p), ("error_code", ctypes.c_int),
        ("progress_hook", ctypes.c_void_p), ("user_data", ctypes.c_void_p),
        ("pad3", ctypes.c_uint32 * 3),
        ("pad4", ctypes.POINTER(ctypes.c_ubyte)),
        ("pad5", ctypes.POINTER(ctypes.c_ubyte)),
        ("pad6", ctypes.c_uint32 * 8),
        ("memory_", ctypes.c_void_p), ("memory_argb_", ctypes.c_void_p),
        ("pad7", ctypes.c_void_p * 2)]


def _find_abi(lib):
    lib.WebPConfigInitInternal.restype = ctypes.c_int
    lib.WebPConfigInitInternal.argtypes = [
        ctypes.POINTER(_WebPConfig), ctypes.c_int, ctypes.c_float,
        ctypes.c_int]
    for abi in (0x020f, 0x020e, 0x0210, 0x0211):
        cfg = _WebPConfig()
        if lib.WebPConfigInitInternal(ctypes.byref(cfg), 0,
                                      ctypes.c_float(75.0), abi):
            return abi
    return None


_ABI = _find_abi(_WEBP) if _WEBP is not None else None
_adv_only = pytest.mark.skipif(
    _ABI is None, reason="libwebp advanced-API ABI not matched")


def _encode_adv(rgb, quality=75.0, **overrides):
    h, w, _ = rgb.shape
    lib = _WEBP
    cfg = _WebPConfig()
    assert lib.WebPConfigInitInternal(ctypes.byref(cfg), 0,
                                      ctypes.c_float(quality), _ABI)
    for k, v in overrides.items():
        setattr(cfg, k, v)
    lib.WebPPictureInitInternal.restype = ctypes.c_int
    lib.WebPPictureInitInternal.argtypes = [ctypes.POINTER(_WebPPicture),
                                            ctypes.c_int]
    lib.WebPPictureImportRGB.restype = ctypes.c_int
    lib.WebPPictureImportRGB.argtypes = [ctypes.POINTER(_WebPPicture),
                                         ctypes.POINTER(ctypes.c_ubyte),
                                         ctypes.c_int]
    lib.WebPEncode.restype = ctypes.c_int
    lib.WebPEncode.argtypes = [ctypes.POINTER(_WebPConfig),
                               ctypes.POINTER(_WebPPicture)]
    lib.WebPPictureFree.argtypes = [ctypes.POINTER(_WebPPicture)]
    lib.WebPMemoryWriterInit.argtypes = [ctypes.POINTER(_WebPMemoryWriter)]
    pic = _WebPPicture()
    assert lib.WebPPictureInitInternal(ctypes.byref(pic), _ABI)
    pic.width, pic.height = w, h
    wr = _WebPMemoryWriter()
    lib.WebPMemoryWriterInit(ctypes.byref(wr))
    pic.writer = ctypes.cast(lib.WebPMemoryWrite, ctypes.c_void_p)
    pic.custom_ptr = ctypes.cast(ctypes.byref(wr), ctypes.c_void_p)
    buf = np.ascontiguousarray(rgb)
    assert lib.WebPPictureImportRGB(
        ctypes.byref(pic),
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte)), w * 3)
    ok = lib.WebPEncode(ctypes.byref(cfg), ctypes.byref(pic))
    lib.WebPPictureFree(ctypes.byref(pic))
    assert ok, "WebPEncode failed"
    data = bytes(bytearray(ctypes.cast(
        wr.mem, ctypes.POINTER(ctypes.c_ubyte * wr.size)).contents))
    _WEBP.WebPFree(wr.mem)
    return data


def _encode_simple(rgb, quality):
    h, w, _ = rgb.shape
    out = ctypes.POINTER(ctypes.c_ubyte)()
    buf = np.ascontiguousarray(rgb)
    n = _WEBP.WebPEncodeRGB(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte)),
        w, h, w * 3, ctypes.c_float(quality), ctypes.byref(out))
    assert n > 0
    data = bytes(bytearray(ctypes.cast(
        out, ctypes.POINTER(ctypes.c_ubyte * n)).contents))
    _WEBP.WebPFree(out)
    return data


def _libwebp_yuv(data):
    w = ctypes.c_int()
    h = ctypes.c_int()
    u = ctypes.POINTER(ctypes.c_ubyte)()
    v = ctypes.POINTER(ctypes.c_ubyte)()
    stride = ctypes.c_int()
    uvstride = ctypes.c_int()
    y = _WEBP.WebPDecodeYUV(
        ctypes.cast(ctypes.c_char_p(data), ctypes.POINTER(ctypes.c_ubyte)),
        len(data), ctypes.byref(w), ctypes.byref(h), ctypes.byref(u),
        ctypes.byref(v), ctypes.byref(stride), ctypes.byref(uvstride))
    assert y
    W, H, S, US = w.value, h.value, stride.value, uvstride.value
    UW, UH = (W + 1) // 2, (H + 1) // 2
    ya = np.frombuffer(ctypes.cast(y, ctypes.POINTER(
        ctypes.c_ubyte * (S * H))).contents,
        dtype=np.uint8).reshape(H, S)[:, :W].copy()
    ua = np.frombuffer(ctypes.cast(u, ctypes.POINTER(
        ctypes.c_ubyte * (US * UH))).contents,
        dtype=np.uint8).reshape(UH, US)[:, :UW].copy()
    va = np.frombuffer(ctypes.cast(v, ctypes.POINTER(
        ctypes.c_ubyte * (US * UH))).contents,
        dtype=np.uint8).reshape(UH, US)[:, :UW].copy()
    _WEBP.WebPFree(y)
    return ya, ua, va


def _vp8_chunk(webp):
    assert webp[:4] == b"RIFF" and webp[8:12] == b"WEBP"
    pos = 12
    while pos + 8 <= len(webp):
        ctype = webp[pos:pos + 4]
        csize = int.from_bytes(webp[pos + 4:pos + 8], "little")
        if ctype == b"VP8 ":
            return webp[pos + 8:pos + 8 + csize]
        pos += 8 + csize + (csize & 1)
    raise AssertionError("no VP8 chunk")


def _image(kind, w, h, seed=0):
    rng = np.random.RandomState(seed)
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    if kind == "flat":
        return np.full((h, w, 3), 130, np.uint8)
    if kind == "grad":
        return np.dstack([(x * 3 + y * 2) % 256, (x + y * 5) % 256,
                          (x * 7 + y * 0) % 256]).astype(np.uint8)
    if kind == "noise":
        return rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    img = np.zeros((h, w, 3), np.uint8)
    img[:, ::7] = 255
    img[::5, :, 1] = 200
    img[h // 3:, w // 3:] = (30, 200, 90)
    return img


def _assert_bitexact(webp):
    ry, ru, rv = _libwebp_yuv(webp)
    m = decode_vp8(_vp8_chunk(webp))
    for name, mine, ref in (("y", m["y"], ry), ("u", m["u"], ru),
                            ("v", m["v"], rv)):
        assert np.array_equal(mine, ref), \
            f"{name} plane differs from libwebp"


# --- differential: simple API (what real-world encoders emit) -------------

@_webp_only
@pytest.mark.parametrize("kind", ["flat", "grad", "edges", "noise"])
@pytest.mark.parametrize("size", [(16, 16), (33, 17), (64, 48)])
@pytest.mark.parametrize("q", [10, 50, 90])
def test_differential_simple_api(kind, size, q):
    w, h = size
    _assert_bitexact(_encode_simple(_image(kind, w, h, seed=w * h + q), q))


# --- differential: decoder paths the simple API can't reach ---------------

@_adv_only
@pytest.mark.parametrize("kind", ["grad", "edges", "noise"])
@pytest.mark.parametrize("cfg", [
    dict(filter_strength=0, autofilter=0, segments=1),   # no loop filter
    dict(filter_type=0, filter_strength=80, segments=1),  # simple filter
    dict(partitions=2, segments=4),                       # 4 token parts
    dict(filter_sharpness=5, filter_strength=90),         # sharpness path
])
def test_differential_advanced_paths(kind, cfg):
    for (w, h, q) in ((32, 16, 20), (33, 17, 60), (64, 48, 85)):
        _assert_bitexact(
            _encode_adv(_image(kind, w, h, seed=w + h + q), float(q), **cfg))


@_adv_only
def test_differential_edge_dimensions():
    """Tiny and exact-multiple frames: 1x1 through 48x48 including
    single-pixel rows/columns and the 17x16 two-macroblock edge."""
    for (w, h) in ((1, 1), (3, 2), (5, 3), (16, 1), (1, 16),
                   (17, 16), (31, 33), (48, 48)):
        for q in (25.0, 80.0):
            _assert_bitexact(_encode_adv(_image("grad", w, h), q))


@_webp_only
def test_differential_large_mixed_content():
    img = _image("grad", 177, 133)
    img[50:80, 30:120] = _image("noise", 90, 30, seed=3)
    img[90:, :60] = _image("edges", 60, 43, seed=4)
    _assert_bitexact(_encode_simple(img, 60.0))


@_webp_only
def test_zero_stripped_streams_still_decode():
    """Encoders may legitimately trim trailing zero bytes of the final
    token partition (the trimmed bits are exactly what the bool
    decoder's virtual-zero lookahead reproduces). The old bound
    (overrun > 2) falsely rejected such streams — measured overrun
    reaches 3 on real libwebp output with its zero tail stripped (r9
    advice); the relaxed bound (8, the _Bool lookahead window the
    docstring promises) must decode them bit-exactly."""
    rng = np.random.default_rng(11)
    checked = 0
    for trial in range(80):
        w, h = int(rng.integers(4, 60)), int(rng.integers(4, 60))
        img = _image(("noise", "grad", "edges")[trial % 3], w, h,
                     seed=trial)
        chunk = _vp8_chunk(_encode_simple(img, float(rng.integers(5, 100))))
        part0 = int.from_bytes(chunk[0:3], "little") >> 5
        stripped = chunk.rstrip(b"\x00")
        # a trimming encoder only drops tail bytes of the LAST
        # partition — never strip into the header / part0 / 3-byte
        # size-table region (max 7 extra partitions = 21 bytes)
        if len(stripped) == len(chunk) or len(stripped) <= 10 + part0 + 21:
            continue
        checked += 1
        ref = decode_vp8(chunk)
        got = decode_vp8(stripped)
        for pl in ("y", "u", "v"):
            assert np.array_equal(got[pl], ref[pl]), (trial, w, h, pl)
    assert checked >= 20, "strip corpus too small to pin the bound"


# --- corrupt-skip contract ------------------------------------------------

@_webp_only
def test_truncation_always_raises():
    webp = _encode_simple(_image("noise", 48, 32, seed=9), 70.0)
    chunk = _vp8_chunk(webp)
    for cut in list(range(0, 24)) + list(range(24, len(chunk), 53)):
        with pytest.raises(ValueError):
            decode_vp8(chunk[:cut])


def test_garbage_and_non_keyframe_rejected():
    with pytest.raises(VP8Error):
        decode_vp8(b"")
    with pytest.raises(VP8Error):
        decode_vp8(b"\x00" * 32)                   # bad start code
    # frame tag with interframe bit set
    tag = (1).to_bytes(3, "little")
    with pytest.raises(VP8Error, match="key frame"):
        decode_vp8(tag + b"\x9d\x01\x2a" + b"\x00" * 16)


@_webp_only
def test_parse_webp_dispatch_and_rgb_shape():
    webp = _encode_simple(_image("grad", 20, 12), 75.0)
    m = parse_webp(webp)
    assert (m["width"], m["height"], m["n_pixels"]) == (20, 12, 240)
    assert m["pixels"].shape == (12, 20, 3)
    assert not m["has_alpha"]
    assert m["y_plane"].shape == (12, 20)
    assert m["u_plane"].shape == (6, 10)


# --- bool coder round-trip (the gate writer's foundation) -----------------

def test_bool_coder_roundtrip_fuzz():
    rng = random.Random(1234)
    for _ in range(40):
        n = rng.randint(1, 4000)
        seq = [(rng.randint(1, 255), rng.randint(0, 1)) for _ in range(n)]
        enc = _BoolEnc()
        for p, b in seq:
            enc.put(p, b)
        data = enc.flush()
        bd = _Bool(data, 0, len(data))
        for p, b in seq:
            assert bd.bit(p) == b


# --- deterministic flat-frame writer (the mm_webp_decode lossy gate) ------

def test_flat_writer_closed_form_all_params():
    from go_triton_spark.codec.vp8 import (_QIS, build_vp8_flat,
                                           vp8_flat_expected)
    for doc in range(0, 240):
        w, h = 4 + doc % 17, 4 + doc % 6
        qi = _QIS[doc % 8]
        ly, lu, lv = 1 + doc % 4, doc % 5, (doc // 3) % 5
        m = parse_webp(build_vp8_flat(w, h, qi, ly, lu, lv))
        L, U, V = vp8_flat_expected(qi, ly, lu, lv)
        assert (m["width"], m["height"]) == (w, h)
        assert (m["y_plane"] == L).all()
        assert (m["u_plane"] == U).all()
        assert (m["v_plane"] == V).all()


@_webp_only
def test_flat_writer_streams_decode_in_libwebp():
    """Cross-implementation gate for the WRITER: libwebp (the spec's
    reference decoder) must reproduce the closed-form pixels from our
    synthesized streams — including the two-macroblock SKIP frames."""
    from go_triton_spark.codec.vp8 import (_QIS, build_vp8_flat,
                                           vp8_flat_expected)
    for doc in range(0, 300, 11):
        w, h = 4 + doc % 17, 4 + doc % 6
        qi = _QIS[doc % 8]
        ly, lu, lv = 1 + doc % 4, doc % 5, (doc // 3) % 5
        ry, ru, rv = _libwebp_yuv(build_vp8_flat(w, h, qi, ly, lu, lv))
        L, U, V = vp8_flat_expected(qi, ly, lu, lv)
        assert ry.shape == (h, w) and (ry == L).all()
        assert (ru == U).all() and (rv == V).all()


def test_flat_writer_truncation_raises():
    from go_triton_spark.codec.vp8 import build_vp8_flat
    webp = build_vp8_flat(20, 9, 31, 3, 2, 1)
    with pytest.raises(ValueError):
        parse_webp(webp[:-5])      # the gate's corrupt transform


def test_bool_coder_extreme_probs():
    for prob in (1, 2, 254, 255):
        for pattern in ([0] * 500, [1] * 500, [0, 1] * 250):
            enc = _BoolEnc()
            for b in pattern:
                enc.put(prob, b)
            bd = _Bool(enc.flush(), 0, 10 ** 9)
            bd.end = len(enc.flush())
            got = [bd.bit(prob) for _ in pattern]
            assert got == pattern


# --- extended container: VP8X + ALPH (alpha over lossy VP8) ---------------

def _import_rgba_encoder():
    lib = _WEBP
    lib.WebPPictureImportRGBA.restype = ctypes.c_int
    lib.WebPPictureImportRGBA.argtypes = [ctypes.POINTER(_WebPPicture),
                                          ctypes.POINTER(ctypes.c_ubyte),
                                          ctypes.c_int]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    lib.WebPDecodeRGBA.argtypes = [ctypes.POINTER(ctypes.c_ubyte),
                                   ctypes.c_size_t,
                                   ctypes.POINTER(ctypes.c_int),
                                   ctypes.POINTER(ctypes.c_int)]


def _encode_rgba_adv(rgba, quality=75.0, **overrides):
    _import_rgba_encoder()
    lib = _WEBP
    h, w, _ = rgba.shape
    cfg = _WebPConfig()
    assert lib.WebPConfigInitInternal(ctypes.byref(cfg), 0,
                                      ctypes.c_float(quality), _ABI)
    for k, v in overrides.items():
        setattr(cfg, k, v)
    pic = _WebPPicture()
    assert lib.WebPPictureInitInternal(ctypes.byref(pic), _ABI)
    pic.width, pic.height = w, h
    wr = _WebPMemoryWriter()
    lib.WebPMemoryWriterInit(ctypes.byref(wr))
    pic.writer = ctypes.cast(lib.WebPMemoryWrite, ctypes.c_void_p)
    pic.custom_ptr = ctypes.cast(ctypes.byref(wr), ctypes.c_void_p)
    buf = np.ascontiguousarray(rgba)
    assert lib.WebPPictureImportRGBA(
        ctypes.byref(pic),
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte)), w * 4)
    ok = lib.WebPEncode(ctypes.byref(cfg), ctypes.byref(pic))
    lib.WebPPictureFree(ctypes.byref(pic))
    assert ok
    data = bytes(bytearray(ctypes.cast(
        wr.mem, ctypes.POINTER(ctypes.c_ubyte * wr.size)).contents))
    lib.WebPFree(wr.mem)
    return data


def _decode_rgba_ref(data):
    lib = _WEBP
    w = ctypes.c_int()
    h = ctypes.c_int()
    p = lib.WebPDecodeRGBA(
        ctypes.cast(ctypes.c_char_p(data), ctypes.POINTER(ctypes.c_ubyte)),
        len(data), ctypes.byref(w), ctypes.byref(h))
    assert p
    W, H = w.value, h.value
    out = np.frombuffer(ctypes.cast(p, ctypes.POINTER(
        ctypes.c_ubyte * (W * H * 4))).contents,
        dtype=np.uint8).reshape(H, W, 4).copy()
    lib.WebPFree(p)
    return out


def _alpha_patterns(h, w, rng):
    return {
        "grad2d": (np.add.outer(np.arange(h) * 3, np.arange(w) * 6)) % 256,
        "noise": rng.randint(0, 256, (h, w)),
        "vstripes": np.tile((np.arange(w) * 37) % 256, (h, 1)),
        "hstripes": np.tile(((np.arange(h) * 53) % 256)[:, None], (1, w)),
    }


@_adv_only
@pytest.mark.parametrize("cfg", [
    dict(),                        # default: VP8L-compressed alpha
    dict(alpha_compression=0),     # raw alpha plane
    dict(alpha_filtering=0),       # force no prediction filter
    dict(alpha_filtering=2),       # force the best-of filters path
])
def test_vp8x_alpha_bit_exact_against_libwebp(cfg):
    """The ALPH chunk (header-less VP8L alpha sub-stream or raw plane,
    plus the horizontal/vertical/gradient prediction filters) must
    reproduce libwebp's decoded A channel exactly; the color planes
    must still match WebPDecodeYUV on the same VP8X file."""
    rng = np.random.RandomState(77)
    for name, alpha in _alpha_patterns(24, 40, rng).items():
        rgba = np.zeros((24, 40, 4), np.uint8)
        rgba[..., :3] = rng.randint(0, 256, (24, 40, 3))
        rgba[..., 3] = alpha
        webp = _encode_rgba_adv(rgba, 70.0, **cfg)
        ref = _decode_rgba_ref(webp)
        m = parse_webp(webp)
        assert np.array_equal(m["alpha"], ref[..., 3]), (name, cfg)
        assert m["has_alpha"]
        ry, ru, rv = _libwebp_yuv(webp)
        assert np.array_equal(m["y_plane"], ry), (name, cfg)
        assert np.array_equal(m["u_plane"], ru), (name, cfg)
        assert np.array_equal(m["v_plane"], rv), (name, cfg)


def test_alph_reserved_method_raises_and_preproc_is_informative():
    from go_triton_spark.codec.vp8l import _decode_alph
    with pytest.raises(ValueError, match="reserved"):
        _decode_alph(bytes([0x03]) + b"\x00" * 16, 4, 4)
    # pre-processing bits are informative (container spec): a raw
    # level-reduced plane still decodes to the bitstream values
    a = _decode_alph(bytes([0x10]) + bytes(range(16)), 4, 4)
    assert a.tolist() == [list(range(i * 4, i * 4 + 4)) for i in range(4)]


# --- animated WebP (ANIM/ANMF) --------------------------------------------

def _anim_reference_blend(canvas, rgb, a, y, x):
    """Independent integer transcription of the container spec's
    compositing formulas (kept deliberately separate from the codec's
    _blend_over so the test is not a tautology)."""
    h, w = a.shape
    out = canvas.copy()
    for r in range(h):
        for c in range(w):
            sa = int(a[r, c]); da = int(canvas[y + r, x + c, 3])
            ao255 = sa * 255 + da * (255 - sa)
            if ao255 == 0:
                out[y + r, x + c] = (0, 0, 0, 0)
                continue
            px = []
            for ch in range(3):
                n = (int(rgb[r, c, ch]) * sa * 255
                     + int(canvas[y + r, x + c, ch]) * da * (255 - sa))
                px.append((2 * n + ao255) // (2 * ao255))
            out[y + r, x + c, :3] = px
            out[y + r, x + c, 3] = (2 * ao255 + 255) // 510
    return out


def _anim_reference_composite(frames, cw, ch, background):
    """Independent FULL compositing pipeline (r9 verdict #6): canvas
    sequencing, no_blend overwrite, per-pixel blend, and background
    disposal transcribed from the container spec — sharing NO code
    with codec/vp8l.py's production path (which is vectorized numpy;
    this is scalar per-pixel). Returns (frames_rgb, frames_alpha)."""
    canvas = np.zeros((ch, cw, 4), np.uint8)
    out_rgb, out_a = [], []
    for f in frames:
        rgb = f["rgb"]
        h, w = rgb.shape[:2]
        x, y = f.get("x", 0), f.get("y", 0)
        a = f.get("alpha")
        a = np.full((h, w), 255, np.uint8) if a is None else a
        if f.get("no_blend"):
            canvas[y:y + h, x:x + w, :3] = rgb
            canvas[y:y + h, x:x + w, 3] = a
        else:
            canvas = _anim_reference_blend(canvas, rgb, a, y, x)
        out_rgb.append(canvas[..., :3].copy())
        out_a.append(canvas[..., 3].copy())
        if f.get("dispose"):
            canvas[y:y + h, x:x + w] = background
    return out_rgb, out_a


def test_animated_webp_full_pipeline_against_reference():
    """Randomized end-to-end check: libwebpdemux is absent from the
    container (no cross-library oracle), so the production ANIM/ANMF
    compositing is pinned against the scalar spec transcription above
    — frame sequencing, blend, no_blend, dispose, background — over
    random frame stacks. VP8L frames are lossless, so the reference
    can composite the SOURCE arrays directly: no decoder code is
    shared between the two sides of the comparison."""
    from go_triton_spark.codec.vp8l import build_webp_anim
    for seed in range(6):
        rng = np.random.RandomState(100 + seed)
        cw, ch = int(rng.randint(8, 30)) * 2, int(rng.randint(8, 30)) * 2
        frames = []
        for _ in range(int(rng.randint(2, 6))):
            w = int(rng.randint(1, cw // 2)) * 2
            h = int(rng.randint(1, ch // 2)) * 2
            x = int(rng.randint(0, (cw - w) // 2 + 1)) * 2
            y = int(rng.randint(0, (ch - h) // 2 + 1)) * 2
            frames.append(dict(
                rgb=rng.randint(0, 256, (h, w, 3)).astype(np.uint8),
                alpha=(rng.randint(0, 256, (h, w)).astype(np.uint8)
                       if rng.rand() < 0.7 else None),
                x=x, y=y,
                no_blend=bool(rng.rand() < 0.3),
                dispose=bool(rng.rand() < 0.3),
                duration_ms=int(rng.randint(10, 200))))
        bg = tuple(int(v) for v in rng.randint(0, 256, 4))
        webp = build_webp_anim(frames, cw, ch, background=bg)
        m = parse_webp(webp)
        ref_rgb, ref_a = _anim_reference_composite(frames, cw, ch,
                                                   bg)
        assert m["n_frames"] == len(frames), seed
        for i in range(len(frames)):
            assert np.array_equal(m["frames"][i], ref_rgb[i]), \
                (seed, i, "rgb")
            assert np.array_equal(m["frame_alphas"][i], ref_a[i]), \
                (seed, i, "alpha")


def test_animated_webp_composites_per_spec():
    from go_triton_spark.codec.vp8l import build_webp_anim
    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, (16, 20, 3)).astype(np.uint8)
    patch = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    pa = rng.randint(0, 256, (8, 10)).astype(np.uint8)
    webp = build_webp_anim([
        dict(rgb=base, duration_ms=100, no_blend=True),
        dict(rgb=patch, alpha=pa, x=4, y=2, duration_ms=50),
        dict(rgb=patch, alpha=pa, x=10, y=8, no_blend=True,
             dispose=True),
        dict(rgb=patch, x=0, y=0),
    ], 20, 16, background=(9, 8, 7, 255), loop=3)
    m = parse_webp(webp)
    assert m["n_frames"] == 4 and (m["width"], m["height"]) == (20, 16)
    assert m["loop_count"] == 3 and m["background"] == (9, 8, 7, 255)
    # frame 0: full-canvas overwrite
    assert np.array_equal(m["frames"][0], base)
    # frame 1: alpha blend against the independent reference
    canvas = np.zeros((16, 20, 4), np.uint8)
    canvas[..., :3] = base
    canvas[..., 3] = 255
    ref = _anim_reference_blend(canvas, patch, pa, 2, 4)
    assert np.array_equal(m["frames"][1], ref[..., :3])
    assert np.array_equal(m["frame_alphas"][1], ref[..., 3])
    # frame 2: no_blend overwrites its rectangle on the blended canvas
    assert np.array_equal(m["frames"][2][8:16, 10:20], patch)
    assert np.array_equal(m["frame_alphas"][2][8:16, 10:20], pa)
    # frame 3 starts from the DISPOSED canvas: frame 2 rect = background
    f3 = m["frames"][3]
    assert np.array_equal(f3[8:16, 12:20],
                          np.broadcast_to((9, 8, 7), (8, 8, 3)))
    assert (m["frame_alphas"][3][8:16, 12:20] == 255).all()
    assert m["frame_meta"][1]["duration_ms"] == 50
    # parse_gif-style first-frame contract at the top level
    assert np.array_equal(m["pixels"], m["frames"][0])


def test_animated_webp_corrupt_paths():
    from go_triton_spark.codec.vp8l import build_webp_anim
    base = np.full((8, 8, 3), 50, np.uint8)
    webp = build_webp_anim([dict(rgb=base, no_blend=True)], 8, 8)
    with pytest.raises(ValueError):
        parse_webp(webp[:-5])                  # truncated ANMF payload
    # frame rectangle exceeding the canvas is rejected
    bad = build_webp_anim([dict(rgb=base, x=4, y=0, no_blend=True)],
                          8, 8)
    with pytest.raises(ValueError, match="exceeds canvas"):
        parse_webp(bad)
    # an animation with no frames is rejected
    hdr = (b"VP8X" + (10).to_bytes(4, "little")
           + bytes([0x02]) + b"\x00" * 3
           + (7).to_bytes(3, "little") + (7).to_bytes(3, "little"))
    empty = b"RIFF" + (4 + len(hdr)).to_bytes(4, "little") + b"WEBP" + hdr
    with pytest.raises(ValueError, match="no ANMF"):
        parse_webp(empty)
    # ANMF before ANIM (spec: ANIM precedes the first frame) — frames
    # composited before the background color is known would silently
    # mis-dispose, so the walk rejects the malformed order (r9 advice)
    anim_at = webp.index(b"ANIM")
    no_anim = bytearray(webp[:anim_at] + webp[anim_at + 8 + 6:])
    no_anim[4:8] = (len(no_anim) - 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="ANMF before ANIM"):
        parse_webp(bytes(no_anim))


@_webp_only
def test_reserved_colorspace_bit_rejected():
    """RFC 6386 §9.2: the color-space bit MUST be 0; a set value means
    a stream no conforming decoder can interpret (r9 advice — it was
    previously read and ignored). The bit is the FIRST bool-coded
    literal of part0 at prob 128, i.e. simply (byte10 >= 0x80)."""
    chunk = bytearray(_vp8_chunk(_encode_simple(_image("grad", 16, 16),
                                                60.0)))
    assert decode_vp8(bytes(chunk))  # sane baseline
    chunk[10] |= 0x80
    with pytest.raises(VP8Error, match="color-space"):
        decode_vp8(bytes(chunk))


@_webp_only
def test_byte_flip_never_crashes():
    """VP8 has no payload checksum, so most flips legally decode to
    different pixels — the contract is bounded behavior: every mutant
    either returns planes of the header's dimensions or raises
    ValueError; no hang, no unbounded allocation, no other exception."""
    chunk = _vp8_chunk(_encode_simple(_image("noise", 32, 32, seed=2),
                                      60.0))
    rng = random.Random(99)
    for _ in range(150):
        i = rng.randrange(len(chunk))
        mut = bytearray(chunk)
        mut[i] ^= 1 << rng.randrange(8)
        try:
            m = decode_vp8(bytes(mut))
        except ValueError:
            continue
        assert m["y"].shape == (m["height"], m["width"])


# --- property fuzz: random images stay bit-exact ---------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:                                # pragma: no cover
    _HYP = False

if _HYP:
    @_webp_only
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.integers(1, 40), st.integers(1, 28),
           st.integers(0, 2 ** 32 - 1), st.sampled_from([12, 55, 88]))
    def test_random_images_bit_exact(w, h, seed, q):
        """Hypothesis sweep over dimensions x content x quality: every
        libwebp-encoded stream must decode to libwebp's own YUV planes
        bit-for-bit (found counterexamples persist in .hypothesis/)."""
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        _assert_bitexact(_encode_simple(img, float(q)))
