"""QOI ("Quite OK Image") codec — the public one-page spec at
qoiformat.org, implemented from scratch in stdlib+numpy.

QOI is a real, increasingly common lossless format (supported by
ffmpeg, ImageMagick, SDL, stb) built from five byte-level ops over a
running 64-slot color index: QOI_OP_RUN (repeat previous pixel),
QOI_OP_INDEX (hash-table recall), QOI_OP_DIFF (2-bit channel deltas),
QOI_OP_LUMA (green-biased deltas), and literal QOI_OP_RGB/RGBA. The
engine decodes it for the same reason it decodes PNG/GIF/TIFF/WebP:
image training columns hold whatever the web serves.

Contract matches the codec family: ``parse_qoi`` returns
width/height/n_pixels + ``pixels`` (h, w, 3) RGB uint8, raising
ValueError on bad magic, truncation, stream/pixel-count drift, or a
missing end marker (corrupt-skip). ``build_qoi`` is the encoder used
by gates and tests; its output round-trips bit-exactly (lossless).
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"qoif"
_END = b"\x00\x00\x00\x00\x00\x00\x00\x01"


def _index_pos(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def build_qoi(pixels, channels: int = 3) -> bytes:
    """Encode an (h, w, 3) RGB uint8 array with the reference
    algorithm (greedy: run, index, diff, luma, literal)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    flat = px.reshape(-1, 3)
    out = bytearray()
    out += _MAGIC + struct.pack(">IIBB", w, h, channels, 0)

    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for r, g, b in flat.tolist():
        cur = (r, g, b, 255)
        if cur == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        ip = _index_pos(r, g, b, 255)
        if index[ip] == cur:
            out.append(ip)  # QOI_OP_INDEX (top bits 00)
        else:
            index[ip] = cur
            dr = (r - prev[0] + 128) % 256 - 128
            dg = (g - prev[1] + 128) % 256 - 128
            db = (b - prev[2] + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2)
                           | (db + 2))  # QOI_OP_DIFF
            else:
                dr_dg = dr - dg
                db_dg = db - dg
                if (-32 <= dg <= 31 and -8 <= dr_dg <= 7
                        and -8 <= db_dg <= 7):
                    out.append(0x80 | (dg + 32))      # QOI_OP_LUMA
                    out.append(((dr_dg + 8) << 4) | (db_dg + 8))
                else:
                    out += bytes((0xFE, r, g, b))     # QOI_OP_RGB
        prev = cur
    if run:
        out.append(0xC0 | (run - 1))
    out += _END
    return bytes(out)


def parse_qoi(data: bytes) -> dict:
    """Decode one QOI payload; ValueError on any corruption.

    The op loop runs in the compiled shim (codec/native.py) when it
    loads, bit-identical; hosts without the shim and every native miss
    decode here.
    """
    if len(data) < 14 + len(_END) or data[:4] != _MAGIC:
        raise ValueError("not a QOI stream (bad magic or too short)")
    w, h, channels, colorspace = struct.unpack_from(">IIBB", data, 4)
    if channels not in (3, 4) or colorspace > 1:
        raise ValueError(f"corrupt QOI header "
                         f"(channels={channels}, colorspace={colorspace})")
    n = w * h
    if n == 0 or n > 1 << 26:
        raise ValueError(f"implausible QOI dimensions {w}x{h}")
    if data[-8:] != _END:
        raise ValueError("QOI end marker missing")
    body = data[14:-8]

    # Native fast path (r11): the compiled shim runs the identical op
    # machine; None (shim absent / any stream deviation) falls through
    # to the pure loop, which owns the typed error. Header checks
    # above run in Python for BOTH paths.
    from go_triton_spark.codec import native as _native

    got = _native.qoi_decode_native(body, n)
    if got is not None:
        return {"width": int(w), "height": int(h),
                "n_pixels": int(n), "pixels": got.reshape(h, w, 3)}

    out = np.empty((n, 3), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r = g = b = 0
    a = 255
    pos = 0
    i = 0
    blen = len(body)
    while i < n:
        if pos >= blen:
            raise ValueError("truncated QOI stream")
        byte = body[pos]
        pos += 1
        if byte == 0xFE:                          # QOI_OP_RGB
            if pos + 3 > blen:
                raise ValueError("truncated QOI_OP_RGB")
            r, g, b = body[pos], body[pos + 1], body[pos + 2]
            pos += 3
        elif byte == 0xFF:                        # QOI_OP_RGBA
            if pos + 4 > blen:
                raise ValueError("truncated QOI_OP_RGBA")
            r, g, b, a = (body[pos], body[pos + 1], body[pos + 2],
                          body[pos + 3])
            pos += 4
        else:
            tag = byte >> 6
            if tag == 0:                          # QOI_OP_INDEX
                r, g, b, a = index[byte & 0x3F]
            elif tag == 1:                        # QOI_OP_DIFF
                r = (r + ((byte >> 4) & 3) - 2) % 256
                g = (g + ((byte >> 2) & 3) - 2) % 256
                b = (b + (byte & 3) - 2) % 256
            elif tag == 2:                        # QOI_OP_LUMA
                if pos >= blen:
                    raise ValueError("truncated QOI_OP_LUMA")
                dg = (byte & 0x3F) - 32
                second = body[pos]
                pos += 1
                r = (r + dg + ((second >> 4) & 0x0F) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (second & 0x0F) - 8) % 256
            else:                                 # QOI_OP_RUN
                run = (byte & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overflows pixel count")
                out[i:i + run] = (r, g, b)
                i += run
                continue
        index[_index_pos(r, g, b, a)] = (r, g, b, a)
        out[i] = (r, g, b)
        i += 1
    if pos != blen:
        raise ValueError("QOI stream has trailing bytes before "
                         "the end marker")
    return {"width": int(w), "height": int(h), "n_pixels": int(n),
            "pixels": out.reshape(h, w, 3)}
