"""Native decode fast path (r9 verdict Next #2).

The clean-room pure-Python codecs (vp8/vp8l/png/jpeg/tiff and the
FLAC/ADPCM/GIF/QOI/snappy-CRC hot loops) are the correctness story:
differentially validated, fuzz-batched, and the thing the oracle gates
pin. They are also the honest throughput floor — measured ~4
ms/kilopixel for VP8 (SCALE.md), 2-3 orders of magnitude off native
code. Most hosts ship the system libraries (libwebp.so.7,
libtiff.so.6, libjpeg.so.62) and gcc. This module binds them with
ctypes (plus one compiled shim for libjpeg and one for the CRC/LZW/
QOI/ADPCM/FLAC loops) and routes the HOT decode loops through C while
keeping the engine's output contracts:

- **bit-identical to the pure path** for WebP (lossy VP8 via
  WebPDecodeYUV + this engine's own integer yuv_to_rgb — the YUV
  planes are already proven bit-exact against libwebp by
  tests/test_vp8_codec.py; lossless VP8L via WebPDecodeRGBA), TIFF
  (TIFFReadRGBAImage) and every shim loop. Asserted over the
  generator corpora by tests/test_native_fastpath.py.
- **conforming-but-not-bit-identical for JPEG**: ITU-T T.81 leaves
  IDCT precision implementation-defined; the pure decoder uses the
  exact float IDCT with round-half-even while libjpeg uses the islow
  integer IDCT, so outputs legitimately differ by a bounded +-2 per
  channel (measured; pinned by the test). The shim disables fancy
  upsampling so chroma replication matches the pure decoder.

Routing policy (parse_webp / parse_jpeg / parse_tiff / parse_gif /
parse_qoi / parse_flac / decode_ima / masked_crc32c): the path is
chosen from what the process can observe, never from an option. The
native leg runs when its library or shim loads and the format's gate
accepts the bytes; otherwise the pure decoder runs, so a host without
a library keeps working. ANY native miss — unsupported feature,
rejected bytes, an exception — falls back to the pure decoder, which
keeps the loud corrupt-skip ValueError contract. PNG and uncompressed
TIFF have no native leg: the pure decoders measured faster (ROADMAP
item 4 has the per-format table). The test suite reaches the pure
decoders the way a host without the libraries does (the
``pure_decoders`` fixture in tests/conftest.py makes every loader
below return None).

Compressed-shard ingest (xz/zstd/lz4) is not routed here: it has one
decoder per format, stdlib lzma and pyarrow's libzstd/liblz4
(operators/ingest.py).

Cluster note: ctypes binds per-process, so executors resolve the
libraries locally; a heterogeneous cluster where some hosts lack a
library degrades per-host to the pure path instead of failing the
stage. The shims are compiled once per host (gcc, cached in the temp
dir, content-hashed) and are likewise optional.

Reference parity note: the reference engine links the native codec
libraries directly (it is C++/Go); this module is the Spark-side
equivalent lever, not a semantic change — decode semantics stay
pinned by the pure decoders' gates.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import os
import struct
from typing import Optional

import numpy as np

def _try_cdll(*names):
    for name in names:
        if not name:
            continue
        try:
            return ctypes.CDLL(name)
        except OSError:
            continue
    return None


# --------------------------------------------------------------- libwebp

_webp_lib = None
_webp_tried = False


def _webp():
    global _webp_lib, _webp_tried
    if _webp_tried:
        return _webp_lib
    _webp_tried = True
    lib = _try_cdll("libwebp.so.7", "libwebp.so",
                    ctypes.util.find_library("webp"))
    if lib is None:
        return None
    try:
        lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
        lib.WebPDecodeRGBA.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
        lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_ubyte)
        lib.WebPDecodeYUV.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
        lib.WebPFree.argtypes = [ctypes.c_void_p]
    except AttributeError:
        return None
    _webp_lib = lib
    return lib


def decode_webp_native(data: bytes) -> Optional[dict]:
    """Bare 'VP8 ' (lossy) and 'VP8L' (lossless) containers only;
    VP8X extended containers (ALPH / ANIM / metadata) return None —
    the pure chunk walk handles those (libwebp.so alone cannot:
    animation needs the absent libwebpdemux, and ALPH-over-lossy RGB
    would go through libwebp's OWN YUV->RGB, breaking bit-equality
    with the engine's documented conversion)."""
    lib = _webp()
    if lib is None or len(data) < 16 or data[:4] != b"RIFF" \
            or data[8:12] != b"WEBP":
        return None
    kind = data[12:16]
    if kind == b"VP8L":
        w, h = ctypes.c_int(), ctypes.c_int()
        p = lib.WebPDecodeRGBA(data, len(data),
                               ctypes.byref(w), ctypes.byref(h))
        if not p:
            return None
        n = w.value * h.value * 4
        rgba = np.ctypeslib.as_array(p, shape=(n,)).copy() \
            .reshape(h.value, w.value, 4)
        lib.WebPFree(p)
        alpha = rgba[:, :, 3].copy()
        return {
            "width": w.value,
            "height": h.value,
            "n_pixels": w.value * h.value,
            "pixels": rgba[:, :, :3].copy(),
            "alpha": alpha,
            "has_alpha": bool((alpha != 255).any()),
        }
    if kind == b"VP8 ":
        # decode to the raw Y/U/V planes (bit-exact vs the pure
        # decoder — the differential suite proves it), then apply the
        # ENGINE'S documented integer YUV->RGB so the RGB output is
        # bit-identical to parse_vp8, not libwebp's display conversion
        from go_triton_spark.codec.vp8 import yuv_to_rgb

        w, h = ctypes.c_int(), ctypes.c_int()
        up = ctypes.POINTER(ctypes.c_ubyte)()
        vp = ctypes.POINTER(ctypes.c_ubyte)()
        stride, uv_stride = ctypes.c_int(), ctypes.c_int()
        yp = lib.WebPDecodeYUV(data, len(data),
                               ctypes.byref(w), ctypes.byref(h),
                               ctypes.byref(up), ctypes.byref(vp),
                               ctypes.byref(stride),
                               ctypes.byref(uv_stride))
        if not yp:
            return None
        W, H = w.value, h.value
        uvw, uvh = (W + 1) >> 1, (H + 1) >> 1
        y = np.ctypeslib.as_array(yp, shape=(H * stride.value,)) \
            .reshape(H, stride.value)[:, :W].copy()
        u = np.ctypeslib.as_array(up, shape=(uvh * uv_stride.value,)) \
            .reshape(uvh, uv_stride.value)[:, :uvw].copy()
        v = np.ctypeslib.as_array(vp, shape=(uvh * uv_stride.value,)) \
            .reshape(uvh, uv_stride.value)[:, :uvw].copy()
        lib.WebPFree(yp)
        return {
            "width": W,
            "height": H,
            "n_pixels": W * H,
            "pixels": yuv_to_rgb(y, u, v),
            "alpha": np.full((H, W), 255, dtype=np.uint8),
            "has_alpha": False,
            "y_plane": y,
            "u_plane": u,
            "v_plane": v,
        }
    return None


# --------------------------------------------------------------- libtiff

_tiff_lib = None
_tiff_tried = False


def _tiff():
    global _tiff_lib, _tiff_tried
    if _tiff_tried:
        return _tiff_lib
    _tiff_tried = True
    lib = _try_cdll("libtiff.so.6", "libtiff.so",
                    ctypes.util.find_library("tiff"))
    if lib is None:
        return None
    try:
        _bind_tiff(lib)
    except AttributeError:
        return None
    _tiff_lib = lib
    return lib


# TIFFClientOpen callback types (public ABI, tiffio.h)
_TIFF_READ = ctypes.CFUNCTYPE(ctypes.c_ssize_t, ctypes.c_void_p,
                              ctypes.c_void_p, ctypes.c_ssize_t)
_TIFF_WRITE = _TIFF_READ
_TIFF_SEEK = ctypes.CFUNCTYPE(ctypes.c_uint64, ctypes.c_void_p,
                              ctypes.c_uint64, ctypes.c_int)
_TIFF_CLOSE = ctypes.CFUNCTYPE(ctypes.c_int, ctypes.c_void_p)
_TIFF_SIZE = ctypes.CFUNCTYPE(ctypes.c_uint64, ctypes.c_void_p)
_TIFF_MAP = ctypes.CFUNCTYPE(ctypes.c_int, ctypes.c_void_p,
                             ctypes.POINTER(ctypes.c_void_p),
                             ctypes.POINTER(ctypes.c_uint64))
_TIFF_UNMAP = ctypes.CFUNCTYPE(None, ctypes.c_void_p, ctypes.c_void_p,
                               ctypes.c_uint64)


def _bind_tiff(lib):
    lib.TIFFClientOpen.restype = ctypes.c_void_p
    lib.TIFFClientOpen.argtypes = [
        ctypes.c_char_p, ctypes.c_char_p, ctypes.c_void_p,
        _TIFF_READ, _TIFF_WRITE, _TIFF_SEEK, _TIFF_CLOSE, _TIFF_SIZE,
        _TIFF_MAP, _TIFF_UNMAP]
    lib.TIFFGetField.restype = ctypes.c_int
    # variadic: typing the fixed prefix keeps the 64-bit handle from
    # being truncated to c_int (segfault); the tag-value pointers get
    # ctypes' default conversion, which is correct for byref()
    lib.TIFFGetField.argtypes = [ctypes.c_void_p, ctypes.c_uint32]
    lib.TIFFReadRGBAImageOriented.restype = ctypes.c_int
    lib.TIFFReadRGBAImageOriented.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint32,
        ctypes.POINTER(ctypes.c_uint32), ctypes.c_int, ctypes.c_int]
    lib.TIFFClose.argtypes = [ctypes.c_void_p]
    lib.TIFFSetErrorHandler.restype = ctypes.c_void_p
    lib.TIFFSetWarningHandler.restype = ctypes.c_void_p


_ORIENTATION_TOPLEFT = 1


def _tiff_pure_compatible(data: bytes) -> bool:
    """True when the first IFD is compressed (LZW, Deflate, PackBits)
    and within parse_tiff's accept set.

    Uncompressed strips are declined: the pure decoder reads them
    with one numpy reshape and beats libtiff 7-14x (64 px 0.03 vs
    0.15 ms, 2048 px 4.2 vs 49.6 ms, one core). libtiff also decodes
    compressions (JPEG-in-TIFF, CCITT, ...) and configurations
    (tiles, planar, 16-bit) the pure decoder rejects, and it APPLIES
    Orientation, which the pure decoder ignores; the gate declines all
    of those so the native leg never widens or changes the accept
    set. A False routes to the pure path, which owns the loud
    rejection."""
    from go_triton_spark.codec import tiff as _t

    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        return False
    try:
        (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
        tags = _t._read_entries(data, ifd_off, bo)
    except (ValueError, struct.error):
        return False

    def one(tag, default=None):
        v = tags.get(tag)
        return default if not v else v[0]

    photo = one(262)
    spp = one(277, 1)
    comp = one(259, 1)
    ok = (
        comp in _t._SUPPORTED_COMP and comp != _t._COMP_NONE
        and photo in (0, 1, 2, 3)
        # photo 2 with spp>3: libtiff may treat the 4th sample as
        # (possibly associated) alpha; pure ignores it — narrow to
        # exactly 3. Gray/palette must be spp==1 (pure rejects more).
        and (spp == 3 if photo == 2 else spp == 1)
        and all(b == 8 for b in tags.get(258, (8,) * spp))
        and one(317, 1) in (1, 2)
        and one(274, 1) == 1        # pure ignores Orientation entirely
        and one(284, 1) == 1        # chunky only (pure assumes it)
        and one(339, 1) == 1        # unsigned-int samples only
        and one(266, 1) == 1        # FillOrder: MSB-first only
        and 273 in tags and 279 in tags   # strips, not tiles
    )
    if not ok:
        return False
    # strip-geometry twins of parse_tiff's loud checks (review find:
    # libtiff tolerates strip overruns the pure path rejects, so they
    # must route pure)
    width, height = one(256, 0), one(257, 0)
    if width < 1 or height < 1:
        return False
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        return False
    rows_per_strip = one(278, height)
    if rows_per_strip < 1:
        return False
    # strip COUNT must cover the image exactly (r11 advice): parse_tiff
    # raises on too few or too many strips — without this check
    # accept/reject parity would rest on libtiff's stopOnError behavior
    # instead of the gate
    if len(offsets) != -(-height // rows_per_strip):
        return False
    # strips out of bounds
    return all(off + cnt <= len(data) for off, cnt in zip(offsets, counts))


def decode_tiff_native(data: bytes) -> Optional[dict]:
    """First IFD via TIFFReadRGBAImageOriented (top-left origin, so no
    flip) over an in-memory TIFFClientOpen stream. Gated by
    _tiff_pure_compatible: compressed strips only, never wider than
    the pure accept set."""
    lib = _tiff()
    if lib is None or not _tiff_pure_compatible(data):
        return None
    # silence libtiff's default stderr handlers once per process
    lib.TIFFSetErrorHandler(None)
    lib.TIFFSetWarningHandler(None)
    state = {"pos": 0}
    buf = data  # closed over by the callbacks

    def _read(_h, dst, n):
        n = min(int(n), len(buf) - state["pos"])
        if n <= 0:
            return 0
        ctypes.memmove(dst, buf[state["pos"]:state["pos"] + n], n)
        state["pos"] += n
        return n

    def _write(_h, _src, _n):
        return 0

    def _seek(_h, off, whence):
        off = int(off)
        if off >= 1 << 63:                 # toff_t is unsigned on the
            off -= 1 << 64                 # wire; END seeks are negative
        if whence == 0:
            state["pos"] = off
        elif whence == 1:
            state["pos"] += off
        else:
            state["pos"] = len(buf) + off
        return state["pos"]

    def _close(_h):
        return 0

    def _size(_h):
        return len(buf)

    cbs = (_TIFF_READ(_read), _TIFF_WRITE(_write), _TIFF_SEEK(_seek),
           _TIFF_CLOSE(_close), _TIFF_SIZE(_size),
           _TIFF_MAP(lambda *_: 0), _TIFF_UNMAP(lambda *_: None))
    tf = lib.TIFFClientOpen(b"mem", b"rm", None, *cbs)
    if not tf:
        return None
    try:
        w, h = ctypes.c_uint32(), ctypes.c_uint32()
        # TIFFTAG_IMAGEWIDTH=256, TIFFTAG_IMAGELENGTH=257
        if not lib.TIFFGetField(tf, 256, ctypes.byref(w)) \
                or not lib.TIFFGetField(tf, 257, ctypes.byref(h)):
            return None
        W, H = w.value, h.value
        if not W or not H or W * H > 1 << 28:
            return None
        raster = (ctypes.c_uint32 * (W * H))()
        ok = lib.TIFFReadRGBAImageOriented(tf, W, H, raster,
                                           _ORIENTATION_TOPLEFT, 1)
        if not ok:
            return None
    finally:
        lib.TIFFClose(tf)
    abgr = np.frombuffer(bytes(raster), np.uint8).reshape(H, W, 4)
    return {
        "width": int(W),
        "height": int(H),
        "n_pixels": int(W * H),
        "pixels": abgr[:, :, :3].copy(),   # packed R,G,B,A little-endian
    }


# --------------------------------------------------------------- libjpeg
#
# libjpeg's public entry (jpeg_CreateDecompress) validates
# sizeof(struct jpeg_decompress_struct) against the caller's compile-
# time value and aborts through the error manager on mismatch — a raw
# ctypes caller cannot know that size portably, and the abort path
# needs setjmp/longjmp. So the binding goes through a ~60-line C shim
# compiled ONCE per host against the system jpeglib.h (gcc is in the
# container), cached content-hashed in the temp dir. No compiler or
# no headers -> shim unavailable -> pure path.

_JPEG_SHIM_SRC = r"""
#include <stddef.h>
#include <stdio.h>
#include <string.h>
#include <setjmp.h>
#include <stdlib.h>
#include <jpeglib.h>

struct shim_err { struct jpeg_error_mgr pub; jmp_buf jb; char msg[JMSG_LENGTH_MAX]; };

static void shim_error_exit(j_common_ptr cinfo) {
    struct shim_err *e = (struct shim_err *)cinfo->err;
    (*cinfo->err->format_message)(cinfo, e->msg);
    longjmp(e->jb, 1);
}

/* libjpeg RECOVERS from corrupt scan data (pads + warning); the pure
 * decoder fails loudly, and the engine's corrupt-skip contract keys
 * on that strictness — so corrupt-data warnings (level -1) become
 * hard errors here, keeping accept/reject parity between the paths. */
static void shim_emit_message(j_common_ptr cinfo, int msg_level) {
    if (msg_level < 0) {
        struct shim_err *e = (struct shim_err *)cinfo->err;
        (*cinfo->err->format_message)(cinfo, e->msg);
        longjmp(e->jb, 1);
    }
}

/* Decode to packed 8-bit RGB. Returns 1 on success (caller frees *out
 * with triton_shim_free); 0 on failure with errbuf (>=256) filled.
 * fancy upsampling OFF: chroma replication, matching the pure decoder. */
int triton_jpeg_decode_rgb(const unsigned char *data, size_t len,
                           unsigned char **out, int *w, int *h,
                           int *ncomp, int *progressive, int *hv,
                           char *errbuf) {
    struct jpeg_decompress_struct cinfo;
    struct shim_err jerr;
    /* volatile: modified between setjmp and longjmp — without it the
     * longjmp path sees the setjmp-time NULL (C11 7.13.2.1) and the
     * image buffer leaks on every corrupt-scan JPEG (review find) */
    unsigned char *volatile buf = NULL;
    memset(&cinfo, 0, sizeof cinfo);
    cinfo.err = jpeg_std_error(&jerr.pub);
    jerr.pub.error_exit = shim_error_exit;
    jerr.pub.emit_message = shim_emit_message;
    jerr.msg[0] = 0;
    if (setjmp(jerr.jb)) {
        if (errbuf) { strncpy(errbuf, jerr.msg, 255); errbuf[255] = 0; }
        jpeg_destroy_decompress(&cinfo);
        free(buf);
        return 0;
    }
    jpeg_create_decompress(&cinfo);
    jpeg_mem_src(&cinfo, (unsigned char *)data, (unsigned long)len);
    jpeg_read_header(&cinfo, TRUE);
    /* parse_jpeg accepts Huffman SOF0/SOF2 only; libjpeg would also
     * decode arithmetic-coded streams, silently widening the accept
     * set — reject them here so native row/skip counts match the
     * pure path (r11 advice; the Python pre-scan in
     * decode_jpeg_native is the first line, this is defense in depth
     * for callers reaching the shim directly). */
    if (cinfo.arith_code) {
        strcpy(jerr.msg, "arithmetic-coded JPEG (pure path rejects)");
        longjmp(jerr.jb, 1);
    }
    cinfo.out_color_space = cinfo.num_components == 1 ? JCS_GRAYSCALE
                                                      : JCS_RGB;
    cinfo.do_fancy_upsampling = FALSE;
    *ncomp = cinfo.num_components;
    *progressive = cinfo.progressive_mode;
    *hv = cinfo.num_components > 1
        ? (cinfo.comp_info[0].h_samp_factor << 4)
          | cinfo.comp_info[0].v_samp_factor
        : 0x11;
    jpeg_start_decompress(&cinfo);
    *w = (int)cinfo.output_width;
    *h = (int)cinfo.output_height;
    {
        size_t stride = (size_t)cinfo.output_width
                        * cinfo.output_components;
        buf = (unsigned char *)malloc(stride * cinfo.output_height + 1);
        if (!buf) { strcpy(jerr.msg, "malloc failed"); longjmp(jerr.jb, 1); }
        while (cinfo.output_scanline < cinfo.output_height) {
            unsigned char *row = buf + stride * cinfo.output_scanline;
            jpeg_read_scanlines(&cinfo, &row, 1);
        }
    }
    jpeg_finish_decompress(&cinfo);
    jpeg_destroy_decompress(&cinfo);
    *out = buf;
    return 1;
}

void triton_shim_free(void *p) { free(p); }
"""

def _compile_shim(name: str, src: str, ldflags: "list[str]"):
    """Compile a tiny C shim once per host (cached in the temp dir,
    content-hashed, atomic against concurrent compiles) and load it.
    None when gcc / headers / libs are unavailable — callers fall back
    to the pure path."""
    import hashlib
    import subprocess
    import tempfile

    tag = hashlib.sha256(src.encode()).hexdigest()[:16]
    so_path = os.path.join(tempfile.gettempdir(),
                           f"triton_{name}_shim_{tag}.so")
    if not os.path.exists(so_path):
        cdir = tempfile.mkdtemp(prefix=f"triton_{name}_shim_")
        csrc = os.path.join(cdir, "shim.c")
        with open(csrc, "w") as fh:
            fh.write(src)
        tmp_so = os.path.join(cdir, "shim.so")
        try:
            subprocess.run(
                ["gcc", "-O2", "-shared", "-fPIC", csrc, "-o", tmp_so]
                + ldflags,
                check=True, capture_output=True, timeout=120)
            os.replace(tmp_so, so_path)    # atomic vs concurrent compiles
        except (OSError, subprocess.SubprocessError):
            return None
    try:
        return ctypes.CDLL(so_path)
    except OSError:
        return None


_jpeg_shim = None
_jpeg_tried = False


def _jpeg_shim_lib():
    """Compile (once, cached by source hash) and load the shim."""
    global _jpeg_shim, _jpeg_tried
    if _jpeg_tried:
        return _jpeg_shim
    _jpeg_tried = True
    lib = _compile_shim("jpeg", _JPEG_SHIM_SRC, ["-ljpeg"])
    if lib is None:
        return None
    try:
        lib.triton_jpeg_decode_rgb.restype = ctypes.c_int
        lib.triton_jpeg_decode_rgb.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.c_int), ctypes.c_char_p]
        lib.triton_shim_free.argtypes = [ctypes.c_void_p]
    except (OSError, AttributeError):
        return None
    _jpeg_shim = lib
    return lib


_SUBSAMPLING = {0x11: "4:4:4", 0x21: "4:2:2", 0x22: "4:2:0"}


def _jpeg_pure_compatible(data: bytes) -> bool:
    """True when the frame type is one parse_jpeg ACCEPTS (Huffman
    SOF0/SOF2, 8-bit precision). libjpeg also decodes SOF1 (extended
    sequential) and arithmetic-coded streams — without this pre-scan
    the native leg would silently WIDEN the accept set and its
    row/skip counts could differ from the pure path on wild inputs
    (r11 advice). A False here routes to the pure decoder, which either
    rejects loudly (the parity case) or — if this conservative scan
    mis-classified — decodes correctly at pure speed."""
    i, n = 2, len(data)
    while i + 2 <= n:
        if data[i] != 0xFF:
            return False                   # marker desync: pure classifies
        m = data[i + 1]
        if m == 0xFF:                      # fill byte
            i += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD8:  # TEM / RSTn / SOI: bare
            i += 2
            continue
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            # first SOF marker decides. Mirror parse_jpeg's FULL frame
            # acceptance (jpeg.py SOF handler): Huffman SOF0/SOF2,
            # 8-bit precision, 1 or 3 components, sampling factors
            # 1..2 — libjpeg also decodes 4-component and 3x/4x
            # sampled streams the pure path loudly rejects
            if m not in (0xC0, 0xC2) or i + 10 > n or data[i + 4] != 8:
                return False
            nc = data[i + 9]
            if nc not in (1, 3) or i + 10 + 3 * nc > n:
                return False
            for ci in range(nc):
                sf = data[i + 11 + 3 * ci]
                hi, vi = sf >> 4, sf & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    return False
            return True
        if m in (0xD9, 0xDA):              # EOI/SOS before any SOF
            return False
        if i + 4 > n:
            return False
        seglen = (data[i + 2] << 8) | data[i + 3]
        if seglen < 2:
            return False
        i += 2 + seglen
    return False


def decode_jpeg_native(data: bytes) -> Optional[dict]:
    """libjpeg decode via the compiled shim. NOTE: conforming but not
    bit-identical to parse_jpeg — T.81 leaves IDCT precision to the
    implementation (pure path: exact float IDCT + round-half-even;
    libjpeg: islow integer IDCT) — measured per-channel delta is
    within +-2 (tests/test_native_fastpath.py pins it)."""
    lib = _jpeg_shim_lib()
    if lib is None or data[:3] != b"\xff\xd8\xff" \
            or not _jpeg_pure_compatible(data):
        return None
    out = ctypes.POINTER(ctypes.c_ubyte)()
    w, h = ctypes.c_int(), ctypes.c_int()
    ncomp, prog, hv = ctypes.c_int(), ctypes.c_int(), ctypes.c_int()
    err = ctypes.create_string_buffer(256)
    ok = lib.triton_jpeg_decode_rgb(
        data, len(data), ctypes.byref(out), ctypes.byref(w),
        ctypes.byref(h), ctypes.byref(ncomp), ctypes.byref(prog),
        ctypes.byref(hv), err)
    if not ok:
        return None
    W, H, nc = w.value, h.value, ncomp.value
    chans = 1 if nc == 1 else 3
    flat = np.ctypeslib.as_array(out, shape=(H * W * chans,)).copy()
    lib.triton_shim_free(out)
    px = flat.reshape(H, W, chans)
    if chans == 1:
        px = np.repeat(px, 3, axis=2)      # grayscale replicated, like
        # parse_jpeg's contract
    return {
        "width": W,
        "height": H,
        "n_pixels": W * H,
        "n_components": nc,
        "progressive": bool(prog.value),
        "subsampling": _SUBSAMPLING.get(hv.value, "other"),
        "pixels": px,
    }


# ---------------------------------------------------------- crc32c
#
# The snappy FRAMING format (.tri archive bodies) checksums every
# chunk with masked CRC32C; measured at the r10 HEAD the pure
# table-driven CRC is ~99% of frame_decompress wall (167 of 175 ms on
# a 1.8 MB payload — the numpy block decode itself is 1.7 ms). No
# system library in this container exposes CRC32C (zlib's crc32 is
# the wrong polynomial), so it gets the same treatment as libjpeg's
# struct handshake: a tiny compiled shim — slice-by-8, table built at
# load, ~1 GB/s, bit-identical to the pure implementation by
# construction (same polynomial, pinned by tests).

_CRC_SHIM_SRC = r"""
#include <stddef.h>
#include <stdint.h>

static uint32_t T[8][256];
static int ready = 0;

static void crc_init(void) {
    for (int i = 0; i < 256; i++) {
        uint32_t c = (uint32_t)i;
        for (int k = 0; k < 8; k++)
            c = (c & 1) ? (c >> 1) ^ 0x82F63B78u : (c >> 1);
        T[0][i] = c;
    }
    for (int i = 0; i < 256; i++)
        for (int s = 1; s < 8; s++)
            T[s][i] = (T[s-1][i] >> 8) ^ T[0][T[s-1][i] & 0xFF];
    ready = 1;
}

uint32_t triton_crc32c(const uint8_t *p, size_t n, uint32_t crc) {
    if (!ready) crc_init();
    crc = ~crc;
    while (n && ((uintptr_t)p & 7)) { /* align to 8 */
        crc = (crc >> 8) ^ T[0][(crc ^ *p++) & 0xFF];
        n--;
    }
    while (n >= 8) {
        uint64_t w = *(const uint64_t *)p ^ (uint64_t)crc;
        crc = T[7][w & 0xFF] ^ T[6][(w >> 8) & 0xFF]
            ^ T[5][(w >> 16) & 0xFF] ^ T[4][(w >> 24) & 0xFF]
            ^ T[3][(w >> 32) & 0xFF] ^ T[2][(w >> 40) & 0xFF]
            ^ T[1][(w >> 48) & 0xFF] ^ T[0][(w >> 56) & 0xFF];
        p += 8;
        n -= 8;
    }
    while (n--) crc = (crc >> 8) ^ T[0][(crc ^ *p++) & 0xFF];
    return ~crc;
}

/* GIF LZW decode — the one hot loop of parse_gif (everything else is
 * numpy). Exact transcription of codec/gif.py's lzw_decode semantics:
 * deferred clear (table freezes at 4096 entries), KwKwK, LSB-first
 * packing, loud on over/underrun. Returns 1 on success filling
 * out[0..expected); 0 on ANY deviation — the caller falls back to the
 * pure decoder, which owns the typed error message. */
int triton_gif_lzw_decode(const uint8_t *data, size_t dlen,
                          int min_code_size, uint8_t *out,
                          size_t expected) {
    if (min_code_size < 2 || min_code_size > 8) return 0;
    int clear = 1 << min_code_size, eoi = clear + 1;
    uint16_t pfx[4097];
    uint8_t sfx[4097], fst[4097], stack[4100];
    for (int i = 0; i < clear; i++) {
        pfx[i] = 0xFFFF; sfx[i] = (uint8_t)i; fst[i] = (uint8_t)i;
    }
    int next = clear + 2, width = min_code_size + 1, prev = -1;
    uint32_t acc = 0; int nbits = 0;
    size_t pos = 0, opos = 0;
    for (;;) {
        while (nbits < width) {
            if (pos >= dlen) return 0;          /* truncated */
            acc |= (uint32_t)data[pos++] << nbits;
            nbits += 8;
        }
        int code = (int)(acc & ((1u << width) - 1u));
        acc >>= width; nbits -= width;
        if (code == clear) {
            next = clear + 2; width = min_code_size + 1; prev = -1;
            continue;
        }
        if (code == eoi) break;
        if (prev < 0) {
            if (code >= clear) return 0;        /* code before literal */
            if (opos + 1 > expected) return 0;
            out[opos++] = (uint8_t)code;
            prev = code;
        } else if (code < next && code != clear && code != eoi
                   && (code < clear || code >= clear + 2)) {
            int cur = code, sp = 0;
            while (pfx[cur] != 0xFFFF) { stack[sp++] = sfx[cur]; cur = pfx[cur]; }
            stack[sp++] = sfx[cur];
            if (opos + (size_t)sp > expected) return 0;
            for (int i = sp - 1; i >= 0; i--) out[opos++] = stack[i];
            if (next <= 4095) {
                pfx[next] = (uint16_t)prev; sfx[next] = fst[code];
                fst[next] = fst[prev]; next++;
            }
            prev = code;
        } else if (code == next && next <= 4095) { /* KwKwK */
            int cur = prev, sp = 0;
            stack[sp++] = fst[prev];
            while (pfx[cur] != 0xFFFF) { stack[sp++] = sfx[cur]; cur = pfx[cur]; }
            stack[sp++] = sfx[cur];
            if (opos + (size_t)sp > expected) return 0;
            for (int i = sp - 1; i >= 0; i--) out[opos++] = stack[i];
            pfx[next] = (uint16_t)prev; sfx[next] = fst[prev];
            fst[next] = fst[prev]; next++;
            prev = next - 1;
        } else {
            return 0;                           /* code beyond table */
        }
        if (next == (1 << width) && width < 12) width++;
    }
    return opos == expected;
}

/* QOI decode (codec/qoi.py parse_qoi's per-op loop — the last
 * per-pixel pure-Python decode path). Exact transcription of the
 * public qoiformat.org state machine as the pure decoder implements
 * it. Returns 1 on success filling out[n*3]; 0 on ANY deviation
 * (truncation, run overflow, trailing bytes) — the caller falls back
 * to the pure path, which owns the typed ValueError. */
int triton_qoi_decode(const uint8_t *body, size_t blen,
                      long long n, uint8_t *out) {
    uint8_t idx[64][4];
    memset(idx, 0, sizeof idx);
    int r = 0, g = 0, b = 0, a = 255;
    size_t pos = 0;
    long long i = 0;
    while (i < n) {
        if (pos >= blen) return 0;                 /* truncated */
        int byte = body[pos++];
        if (byte == 0xFE) {                        /* QOI_OP_RGB */
            if (pos + 3 > blen) return 0;
            r = body[pos]; g = body[pos+1]; b = body[pos+2]; pos += 3;
        } else if (byte == 0xFF) {                 /* QOI_OP_RGBA */
            if (pos + 4 > blen) return 0;
            r = body[pos]; g = body[pos+1]; b = body[pos+2];
            a = body[pos+3]; pos += 4;
        } else {
            int tag = byte >> 6;
            if (tag == 0) {                        /* QOI_OP_INDEX */
                uint8_t *e = idx[byte & 0x3F];
                r = e[0]; g = e[1]; b = e[2]; a = e[3];
            } else if (tag == 1) {                 /* QOI_OP_DIFF */
                r = (r + ((byte >> 4) & 3) - 2) & 255;
                g = (g + ((byte >> 2) & 3) - 2) & 255;
                b = (b + (byte & 3) - 2) & 255;
            } else if (tag == 2) {                 /* QOI_OP_LUMA */
                if (pos >= blen) return 0;
                int dg = (byte & 0x3F) - 32, second = body[pos++];
                r = (r + dg + ((second >> 4) & 15) - 8) & 255;
                g = (g + dg) & 255;
                b = (b + dg + (second & 15) - 8) & 255;
            } else {                               /* QOI_OP_RUN */
                long long run = (byte & 0x3F) + 1;
                if (i + run > n) return 0;         /* run overflow */
                for (long long k = 0; k < run; k++) {
                    out[3*i] = (uint8_t)r; out[3*i+1] = (uint8_t)g;
                    out[3*i+2] = (uint8_t)b; i++;
                }
                continue;
            }
        }
        uint8_t *e = idx[(r*3 + g*5 + b*7 + a*11) & 63];
        e[0] = (uint8_t)r; e[1] = (uint8_t)g;
        e[2] = (uint8_t)b; e[3] = (uint8_t)a;
        out[3*i] = (uint8_t)r; out[3*i+1] = (uint8_t)g;
        out[3*i+2] = (uint8_t)b; i++;
    }
    return pos == blen;                            /* no trailing bytes */
}

/* IMA ADPCM nibble decode (codec/adpcm.py decode_ima) — the one
 * per-sample Python loop of the ADPCM/WAV-0x11 path. Stateful integer
 * machine from the public IMA spec (89-entry step table, index
 * adaptation, sign-applied fractional steps); exact transcription,
 * bit-identical by construction. Returns 1 on success; 0 on a bad
 * initial index (callers fall back to the pure path's ValueError). */
int triton_ima_decode(const uint8_t *nib, long long n,
                      int predictor, int index, int64_t *out) {
    static const int STEP[89] = {
        7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,
        55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,
        279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,
        1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,
        3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
        11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,
        29794,32767};
    static const int ADJ[8] = {-1,-1,-1,-1,2,4,6,8};
    if (index < 0 || index > 88) return 0;
    int pred = predictor, idx = index;
    for (long long j = 0; j < n; j++) {
        int v = nib[j] & 0x0F;
        int step = STEP[idx];
        int diff = step >> 3;
        if (v & 1) diff += step >> 2;
        if (v & 2) diff += step >> 1;
        if (v & 4) diff += step;
        pred = (v & 8) ? pred - diff : pred + diff;
        if (pred < -32768) pred = -32768;
        else if (pred > 32767) pred = 32767;
        idx += ADJ[v & 7];
        if (idx < 0) idx = 0;
        else if (idx > 88) idx = 88;
        out[j] = pred;
    }
    return 1;
}

/* CRC-16/BUYPASS-style poly 0x8005, init 0, MSB-first — FLAC's frame
 * CRC (codec/flac.py _crc16). Runs over every frame byte, so it is
 * the second-largest pure cost after the residual loops. */
uint32_t triton_crc16_8005(const uint8_t *p, size_t n) {
    static uint16_t T16[256];
    static int r16 = 0;
    if (!r16) {
        for (int i = 0; i < 256; i++) {
            uint16_t c = (uint16_t)(i << 8);
            for (int k = 0; k < 8; k++)
                c = (c & 0x8000) ? (uint16_t)((c << 1) ^ 0x8005)
                                 : (uint16_t)(c << 1);
            T16[i] = c;
        }
        r16 = 1;
    }
    uint16_t crc = 0;
    while (n--)
        crc = (uint16_t)((crc << 8) ^ T16[((crc >> 8) ^ *p++) & 0xFF]);
    return crc;
}

/* FLAC predicted-subframe residual + predictor — the Rice-decode and
 * fixed/LPC loops that dominate parse_flac wall (codec/flac.py
 * _predicted, transcribed exactly: method/porder/params, 4- or 5-bit
 * Rice with escape-to-raw, zigzag, int64 predictor accumulate with
 * arithmetic shift — bit-identical by construction, pinned by
 * tests/test_native_fastpath.py). Returns the new absolute BIT
 * position on success; a NEGATIVE code on any deviation (truncation,
 * reserved method, bad partition order, runaway unary) — the caller
 * falls back to the pure path, which owns the typed ValueError. */
typedef struct { const uint8_t *d; long long nbytes; long long bit; } fbr;

static int fbr_bits(fbr *b, int len, uint64_t *out) {
    if (b->bit + len > b->nbytes * 8) return 0;     /* truncated */
    uint64_t v = 0;
    while (len > 0) {
        int boff = (int)(b->bit & 7);
        int take = 8 - boff;
        if (take > len) take = len;
        uint8_t byte = b->d[b->bit >> 3];
        v = (v << take)
            | ((uint64_t)(byte >> (8 - boff - take)) & ((1u << take) - 1u));
        b->bit += take;
        len -= take;
    }
    *out = v;
    return 1;
}

static int fbr_unary(fbr *b, int *q) {
    int n = 0;
    long long limit = b->nbytes * 8;
    for (;;) {
        if (b->bit >= limit) return 0;              /* truncated */
        int bit = (b->d[b->bit >> 3] >> (7 - (b->bit & 7))) & 1;
        b->bit++;
        if (bit) { *q = n; return 1; }
        if (++n > (1 << 20)) return -1;             /* runaway */
    }
}

long long triton_flac_predicted(const uint8_t *data, long long nbytes,
                                long long bitpos, int blocksize,
                                int order, const int64_t *coefs,
                                int shift, const int64_t *warm,
                                int64_t *out) {
    fbr b = { data, nbytes, bitpos };
    uint64_t v;
    if (blocksize <= 0 || order < 0 || order > blocksize || shift < 0
        || bitpos < 0 || bitpos > nbytes * 8)
        return -1;
    if (!fbr_bits(&b, 2, &v)) return -2;            /* truncated */
    if (v > 1) return -3;                           /* reserved method */
    int pbits = v == 0 ? 4 : 5;
    int escape = (1 << pbits) - 1;
    if (!fbr_bits(&b, 4, &v)) return -2;
    int porder = (int)v;
    int nparts = 1 << porder;
    if (blocksize % nparts
        || (((blocksize >> porder) <= order) && porder))
        return -4;                                  /* bad partition order */
    /* magnitude guard: the pure path computes exact Python big-ints,
     * so a crafted stream (escape-coded huge residuals + shift-0
     * coefs) can grow samples geometrically; int64 here would wrap
     * (UB) and silently ACCEPT garbage the pure path rejects.
     * |warm| <= 2^33, |rice r| <= 2^50, |raw r| <= 2^30 and
     * |coef| <= 2^14 * order 32 keep every intermediate < 2^63 as
     * long as all PRIOR samples are within this bound — so checking
     * each produced value before it feeds later predictions makes
     * overflow impossible; any excursion declines to the pure path,
     * which keeps exact arithmetic and owns the verdict. */
    const int64_t BOUND = (int64_t)1 << 40;
    long long idx = 0;
    for (int i = 0; i < order; i++) {
        if (warm[i] > BOUND || warm[i] < -BOUND) return -7;
        out[idx++] = warm[i];
    }
    for (int p = 0; p < nparts; p++) {
        long long count = (long long)(blocksize >> porder)
                          - (p == 0 ? order : 0);
        if (count < 0) return -5;                   /* negative count */
        if (!fbr_bits(&b, pbits, &v)) return -2;
        int param = (int)v;
        if (param == escape) {
            if (!fbr_bits(&b, 5, &v)) return -2;
            int raw = (int)v;
            for (long long k = 0; k < count; k++) {
                int64_t r = 0;
                if (raw) {
                    if (!fbr_bits(&b, raw, &v)) return -2;
                    r = (int64_t)v;
                    if (r >= ((int64_t)1 << (raw - 1)))
                        r -= (int64_t)1 << raw;
                }
                out[idx++] = r;
            }
        } else {
            for (long long k = 0; k < count; k++) {
                int q, rc = fbr_unary(&b, &q);
                if (rc == 0) return -2;
                if (rc < 0) return -6;              /* runaway unary */
                uint64_t u = (uint64_t)q;
                if (param) {
                    if (!fbr_bits(&b, param, &v)) return -2;
                    u = (u << param) | v;
                }
                out[idx++] = (int64_t)(u >> 1) ^ -(int64_t)(u & 1);
            }
        }
    }
    for (long long i = order; i < blocksize; i++) {
        int64_t pred = 0;
        for (int j = 0; j < order; j++)
            pred += coefs[j] * out[i - 1 - j];
        out[i] += shift ? (pred >> shift) : pred;
        if (out[i] > BOUND || out[i] < -BOUND) return -7;
    }
    return b.bit;
}
"""

_crc_shim = None
_crc_tried = False


def _crc_shim_lib():
    global _crc_shim, _crc_tried
    if _crc_tried:
        return _crc_shim
    _crc_tried = True
    lib = _compile_shim("crc32c", _CRC_SHIM_SRC, [])
    if lib is None:
        return None
    try:
        lib.triton_crc32c.restype = ctypes.c_uint32
        lib.triton_crc32c.argtypes = [ctypes.c_char_p, ctypes.c_size_t,
                                      ctypes.c_uint32]
        lib.triton_gif_lzw_decode.restype = ctypes.c_int
        lib.triton_gif_lzw_decode.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int,
            ctypes.POINTER(ctypes.c_ubyte), ctypes.c_size_t]
        lib.triton_qoi_decode.restype = ctypes.c_int
        lib.triton_qoi_decode.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t, ctypes.c_longlong,
            ctypes.POINTER(ctypes.c_ubyte)]
        lib.triton_ima_decode.restype = ctypes.c_int
        lib.triton_ima_decode.argtypes = [
            ctypes.c_char_p, ctypes.c_longlong, ctypes.c_int,
            ctypes.c_int, ctypes.POINTER(ctypes.c_int64)]
        lib.triton_crc16_8005.restype = ctypes.c_uint32
        lib.triton_crc16_8005.argtypes = [ctypes.c_char_p,
                                          ctypes.c_size_t]
        lib.triton_flac_predicted.restype = ctypes.c_longlong
        lib.triton_flac_predicted.argtypes = [
            ctypes.c_char_p, ctypes.c_longlong, ctypes.c_longlong,
            ctypes.c_int, ctypes.c_int, ctypes.POINTER(ctypes.c_int64),
            ctypes.c_int, ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64)]
    except AttributeError:
        return None
    _crc_shim = lib
    return lib


def crc32c_native(data: bytes, crc: int = 0) -> "Optional[int]":
    """CRC32C via the compiled shim; None when unavailable."""
    lib = _crc_shim_lib()
    if lib is None:
        return None
    return int(lib.triton_crc32c(data, len(data), crc & 0xFFFFFFFF))


def qoi_decode_native(body: bytes, n: int):
    """QOI op-loop via the compiled shim; returns an (n, 3) uint8
    pixel array, or None when the shim is absent or the stream
    deviates in ANY way — the pure loop re-judges and raises its
    typed error. Header validation stays in parse_qoi either way."""
    lib = _crc_shim_lib()
    if lib is None or n <= 0 or n > 1 << 26:
        return None
    out = np.empty((n, 3), np.uint8)
    ok = lib.triton_qoi_decode(
        body, len(body), n,
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte)))
    if not ok:
        return None
    return out


def ima_decode_native(nibbles, predictor: int, index: int):
    """IMA ADPCM nibble decode via the compiled shim; None when the
    shim is absent or the initial index is out of range (pure path
    owns the loud rejection). Returns an int64 ndarray, one sample
    per nibble — bit-identical to adpcm.decode_ima."""
    lib = _crc_shim_lib()
    if lib is None:
        return None
    buf = np.ascontiguousarray(nibbles, dtype=np.uint8)
    out = np.empty(buf.size, np.int64)
    ok = lib.triton_ima_decode(
        buf.tobytes(), buf.size, int(predictor), int(index),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)))
    if not ok:
        return None
    return out


def crc16_8005_native(data: bytes) -> "Optional[int]":
    """FLAC frame CRC-16 (poly 0x8005) via the compiled shim; None
    when unavailable. Bit-identical to flac._crc16 by construction."""
    lib = _crc_shim_lib()
    if lib is None:
        return None
    return int(lib.triton_crc16_8005(data, len(data))) & 0xFFFF


def flac_predicted_native(data: bytes, bitpos: int, blocksize: int,
                          order: int, coefs, shift: int, warm):
    """Rice residual + fixed/LPC predictor via the compiled shim
    (parse_flac's hot loops; rides the crc32c shim .so, so
    native_status()['crc32c_shim'] covers its availability).

    Returns ``(samples int64 ndarray, new_bit_position)`` on success,
    None when the shim is absent or the bitstream deviates in ANY way
    — the pure path re-decodes and raises its typed ValueError, so
    the shim keeps exact corrupt accept/reject parity."""
    lib = _crc_shim_lib()
    if lib is None or blocksize <= 0 or blocksize > 1 << 26:
        return None
    n = max(order, 1)
    c_coefs = (ctypes.c_int64 * n)(*[int(x) for x in coefs],
                                   *([0] * (n - order)))
    c_warm = (ctypes.c_int64 * n)(*[int(x) for x in warm],
                                  *([0] * (n - order)))
    out = np.empty(blocksize, np.int64)
    rc = lib.triton_flac_predicted(
        data, len(data), bitpos, blocksize, order, c_coefs, shift,
        c_warm, out.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)))
    if rc < 0:
        return None
    return out, int(rc)


def gif_lzw_decode_native(data: bytes, min_code_size: int,
                          expected: int) -> "Optional[bytes]":
    """GIF LZW decode via the compiled shim (parse_gif's one hot
    loop). None on shim absence or ANY stream deviation — the pure
    decoder re-judges and raises its typed error."""
    lib = _crc_shim_lib()
    if lib is None or expected <= 0 or expected > 1 << 28:
        return None
    out = (ctypes.c_ubyte * expected)()
    ok = lib.triton_gif_lzw_decode(data, len(data), min_code_size,
                                   out, expected)
    if not ok:
        return None
    return bytes(out)


def native_status() -> dict:
    """Observability: which native paths this process can use."""
    return {
        "webp": _webp() is not None,
        "tiff": _tiff() is not None,
        "jpeg_shim": _jpeg_shim_lib() is not None,
        "crc32c_shim": _crc_shim_lib() is not None,
    }

