"""Real-bytes PNG parsing + canonical encoding — the COMPRESSED half
of the image-decoder story (BMP landed in codec/bmp.py, same corrupt-
skip contract). No native media library needed: PNG is fully specified
by the public format (RFC 2083 / the W3C PNG spec) and its only
compression is DEFLATE, which the Python stdlib ships (zlib) — so the
chunk walk, CRC-32 integrity check, inflate, and the five scanline
filter inversions (None/Sub/Up/Average/Paeth) are all production code,
not a swap point. JPEG remains the one documented PIL swap point in
operators/multimodal.py (its DCT entropy coding has no stdlib codec).

Scope: 8-bit samples; color types 0 (grayscale), 2 (RGB), 3 (palette),
6 (RGBA, alpha dropped to match parse_bmp's (h, w, 3) contract);
both non-interlaced and Adam7-interlaced images (each of the seven
passes is an independently-filtered sub-image placed on the 8x8
grid). Every chunk's CRC is
verified — a single flipped payload byte is detected and rejected, a
stronger integrity gate than BMP can offer. Fails loudly (ValueError)
on any malformed input so callers apply the engine's corrupt-skip
semantics — the exact contract of parse_wav / parse_bmp / parse_avi
(tritond/server.go's unmarshal-skip analog).

Scale note: the per-row filter inversion is sequential by definition
(Sub/Average/Paeth reference the reconstructed left neighbor), so the
hot loop is per-pixel Python ints. The mm_png_decode gate images are
tiny; for production-size photos swap the body of ``parse_png`` for a
vectorized or PIL-backed decode — the operator plumbing (Arrow
batching, corrupt-skip, schema) does not change.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter_row(ftype: int, cur: bytearray, prev: bytes, bpp: int) -> bytes:
    """Invert one scanline filter (spec section 6). ``cur`` is the
    filtered row (mutated in place to the reconstructed row), ``prev``
    the already-reconstructed previous row (zeros for the first)."""
    n = len(cur)
    if ftype == 0:
        return bytes(cur)
    if ftype == 2:  # Up — vector add, no left dependency
        return (np.frombuffer(bytes(cur), np.uint8)
                + np.frombuffer(prev, np.uint8)).astype(np.uint8).tobytes()
    for i in range(n):
        a = cur[i - bpp] if i >= bpp else 0
        if ftype == 1:        # Sub
            cur[i] = (cur[i] + a) & 0xFF
        elif ftype == 3:      # Average (floor of the exact mean)
            cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:      # Paeth
            c = prev[i - bpp] if i >= bpp else 0
            cur[i] = (cur[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return bytes(cur)


# Adam7: (x0, y0, dx, dy) per pass — the spec's 8x8 placement grid
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _unfilter_block(raw: bytes, off: int, w: int, h: int, ch: int):
    """Unfilter ``h`` scanlines of ``w`` pixels starting at ``off``;
    returns (pixel bytes, next offset). A pass/image is an independent
    filter domain (prev row starts as zeros)."""
    rowbytes = w * ch
    need = (rowbytes + 1) * h
    if off + need > len(raw):
        raise ValueError("PNG pixel data length mismatch")
    rows = []
    prev = bytes(rowbytes)
    for r in range(h):
        o = off + r * (rowbytes + 1)
        prev = _unfilter_row(raw[o], bytearray(raw[o + 1:o + 1 + rowbytes]),
                             prev, ch)
        rows.append(prev)
    return b"".join(rows), off + need


def _walk_chunks(data: bytes):
    """Yield (type, payload) for every chunk, verifying each length
    and CRC-32 (computed over type + payload, per spec)."""
    pos = len(_SIG)
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        end = pos + 8 + length
        if end + 4 > len(data):
            raise ValueError("truncated PNG chunk payload")
        payload = data[pos + 8:end]
        (crc,) = struct.unpack_from(">I", data, end)
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r} chunk")
        yield ctype, payload
        pos = end + 4
        if ctype == b"IEND":
            return
    raise ValueError("PNG missing IEND chunk")


def parse_png(data: bytes) -> dict:
    """Parse one complete PNG file; return pixels + metadata.

    Returns dict with: width, height, bit_depth, color_type, n_pixels,
    and ``pixels`` — an ``np.uint8`` array of shape (height, width, 3)
    in RGB order (grayscale replicated, palette expanded, RGBA alpha
    dropped), row 0 = top — the same contract as parse_bmp so the
    mm_image_* math is format-agnostic.

    There is no native leg: inflate already runs in C zlib, and this
    decoder measured faster than libpng's simplified API from 256 px
    up (ROADMAP item 4).
    """
    if len(data) < len(_SIG) or data[:len(_SIG)] != _SIG:
        raise ValueError("not a PNG file (bad signature)")
    width = height = None
    bit_depth = color_type = None
    palette = None
    idat = bytearray()
    for ctype, payload in _walk_chunks(data):
        if ctype == b"IHDR":
            if width is not None:
                raise ValueError("duplicate IHDR")
            if len(payload) != 13:
                raise ValueError("bad IHDR length")
            (width, height, bit_depth, color_type, comp, filt,
             interlace) = struct.unpack(">IIBBBBB", payload)
            if width <= 0 or height <= 0:
                raise ValueError(f"bad dimensions {width}x{height}")
            if bit_depth != 8:
                raise ValueError(f"unsupported bit depth {bit_depth} "
                                 "(only 8-bit samples)")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if comp != 0 or filt != 0:
                raise ValueError("bad compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
        elif ctype == b"PLTE":
            if len(payload) % 3 or not 3 <= len(payload) <= 768:
                raise ValueError("bad PLTE length")
            palette = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += payload
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e

    ch = _CHANNELS[color_type]
    if interlace == 0:
        flat, off = _unfilter_block(raw, 0, width, height, ch)
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
        px = np.frombuffer(flat, np.uint8).reshape(height, width, ch)
    else:                                  # Adam7: 7 sub-images
        px = np.zeros((height, width, ch), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue                   # pass absent for this size
            flat, off = _unfilter_block(raw, off, pw, ph, ch)
            sub = np.frombuffer(flat, np.uint8).reshape(ph, pw, ch)
            px[y0::dy, x0::dx] = sub
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if color_type == 0:
        px = np.repeat(px, 3, axis=2)
    elif color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        idx = px[:, :, 0]
        if int(idx.max()) >= len(palette):
            raise ValueError("palette index out of range")
        px = palette[idx]
    elif color_type == 6:
        px = px[:, :, :3]
    return {
        "width": int(width),
        "height": int(height),
        "bit_depth": int(bit_depth),
        "color_type": int(color_type),
        "n_pixels": int(width * height),
        "pixels": np.ascontiguousarray(px),
    }


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))


def build_png(pixels, interlace: bool = False) -> bytes:
    """Assemble a canonical 8-bit RGB (color type 2) PNG from an RGB
    pixel array of shape (height, width, 3), filter type 0 on every
    scanline, one IDAT chunk; ``interlace=True`` writes the seven
    Adam7 passes. Deterministic byte output (zlib level 6) —
    synthesizes real in-flight compressed image payloads for the
    mm_png_decode gate corpus and fixtures, exactly like build_bmp /
    build_wav."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("build_png expects (h, w, 3) RGB")
    h, w = arr.shape[:2]
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(b"\x00" + sub[r].tobytes()
                         for r in range(sub.shape[0]))
        scan = b"".join(parts)
    else:
        scan = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    out = bytearray(_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0,
                                       1 if interlace else 0))
    out += _chunk(b"IDAT", zlib.compress(scan, 6))
    out += _chunk(b"IEND", b"")
    return bytes(out)
