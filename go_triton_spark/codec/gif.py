"""Real-bytes GIF (87a/89a) codec — the LZW leg of the image-decoder
story (PNG covered DEFLATE in round 6, JPEG covered Huffman+DCT earlier
this round; GIF's variable-width LZW is the third entropy-coding family
real image columns contain).

Pure stdlib + numpy from the public specification (GIF89a, CompuServe
1990): logical screen descriptor, global/local color tables,
variable-width LZW decompression (dynamic code width 3..12 bits, Clear
/ EOI codes, deferred-clear tolerated — a full 4096-entry table keeps
decoding until Clear/EOI), interlaced row ordering (the four-pass
8/8-4/8-2/4-1/2 schedule), Graphic Control Extension parsing
(transparency index, disposal method, frame delay — transparent pixels
never take a palette color; comment/application extensions skipped),
and the 0x3B trailer. Animated GIFs decode every image block and are
composited per the disposal model (1 keep / 2 restore-background /
3 restore-previous) with an alpha plane exposed alongside the RGB.
``parse_gif`` returns the frames batch like parse_avi. Fails loudly
(ValueError) on truncation,
bad LZW codes, missing color tables, or palette-range overflow — the
engine's corrupt-skip contract (same as every codec/ parser).

The encoder exists to synthesize REAL payloads for the gate corpus and
tests (like build_png / build_jpeg): true dictionary LZW with width
growth and a 4095-entry reset, not the uncompressed-clear-code
shortcut, so the decoder's dictionary path is genuinely exercised.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 4095            # 12-bit LZW ceiling (spec)


# --- LZW --------------------------------------------------------------

def lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytearray:
    """Decode one image's LZW stream to ``expected`` palette indices."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # dictionary as bytes entries; rebuilt on every Clear
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream (EOF before EOI)")
            acc |= data[pos] << nbits      # GIF packs LSB-first
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW code {code} before any literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # Deferred clear (giflib emits it routinely): once the
            # table holds all 4096 addressable entries, STOP growing
            # and keep decoding existing codes until Clear/EOI — a
            # full table is legal, only a code past it is corrupt.
            if len(table) <= _MAX_CODE:
                table.append(prev + entry[:1])
        elif code == len(table) and code <= _MAX_CODE:   # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > expected:
            raise ValueError(
                f"LZW output overrun: {len(out)} > {expected} pixels")
    if len(out) != expected:
        raise ValueError(
            f"LZW underrun: {len(out)} of {expected} pixels decoded")
    return out


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """True dictionary LZW (the GIF89a algorithm), width-growing, with
    a Clear emitted when the table hits the 12-bit ceiling."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > _MAX_CODE:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
        # Decoder-visible growth: the DECODER appends a table entry for
        # this final data code (its table reaches len == next_code), and
        # if that lands exactly on a power of two it widens BEFORE
        # reading the next code. The encoder must mirror that or EOI is
        # written at width while the decoder reads width+1 (round-7
        # verdict, seed=125 kbits=5 8x30 counterexample).
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# --- container --------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    out = np.empty_like(rows)
    out[order] = rows
    return out


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a sub-block chain; return (payload, next_pos)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise ValueError("truncated sub-block")
        chunks.append(data[pos:pos + n])
        pos += n


def parse_gif(data: bytes) -> dict:
    """Decode one complete GIF; return pixels + metadata.

    Returns dict with: width, height, n_pixels, n_frames, and
    ``pixels`` — (height, width, 3) uint8 RGB of the FIRST frame
    composited on the logical screen — plus ``frames``, a list of
    per-image (h, w, 3) arrays in file order (animation support,
    shaped like parse_avi). Fails loudly (ValueError) on truncation
    or spec violations.
    """
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file (bad magic)")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if sw < 1 or sh < 1:
        raise ValueError(f"bad logical screen {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    frames = []
    gce = None                                   # applies to NEXT image
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF (EOF before trailer)")
        block = data[pos]
        pos += 1
        if block == 0x3B:                        # trailer
            break
        if block == 0x21:                        # extension
            if pos >= len(data):
                raise ValueError("truncated extension block")
            label = data[pos]
            pos += 1
            payload, pos = _sub_blocks(data, pos)
            if label == 0xF9:                    # Graphic Control Ext
                if len(payload) < 4:
                    raise ValueError("truncated GCE payload")
                gpacked = payload[0]
                gce = {
                    "disposal": (gpacked >> 2) & 0x07,
                    "delay_cs": payload[1] | (payload[2] << 8),
                    "transparency_index":
                        payload[3] if gpacked & 0x01 else None,
                }
            continue                             # comment / app: skipped
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        if pos + 9 > len(data):
            raise ValueError("truncated image descriptor")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if w < 1 or h < 1 or left + w > sw or top + h > sh:
            raise ValueError(
                f"image {w}x{h}+{left}+{top} outside screen {sw}x{sh}")
        pal = gct
        if ipacked & 0x80:                       # local color table
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("truncated local color table")
            pal = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("image with no color table")
        if pos >= len(data):
            raise ValueError("truncated before LZW code size")
        min_code = data[pos]
        pos += 1
        payload, pos = _sub_blocks(data, pos)
        # native fast path for the one hot loop (everything else in
        # this parser is numpy): the compiled-shim LZW (codec/native.py)
        # is an exact transcription of lzw_decode's semantics; shim
        # absent or any deviation returns None and the pure decoder
        # re-judges the stream with its typed errors
        from go_triton_spark.codec import native as _native
        raw = _native.gif_lzw_decode_native(bytes(payload), min_code, w * h)
        if raw is None:
            raw = lzw_decode(payload, min_code, w * h)
        idx = np.frombuffer(raw, np.uint8).reshape(h, w)
        if ipacked & 0x40:                       # deinterlace the INDEX
            idx = _deinterlace(idx)              # plane so the
        tidx = gce["transparency_index"] if gce else None
        opaque = idx != tidx if tidx is not None else None
        check = idx if opaque is None else idx[opaque]
        # transparency-masked pixels may carry any index (spec: the
        # palette color of a transparent pixel is meaningless)
        if check.size and int(check.max()) >= len(pal):
            raise ValueError("palette index out of range")
        px = pal[np.minimum(idx, len(pal) - 1)]
        meta = {
            "left": int(left), "top": int(top),
            "transparency_index": tidx,
            "disposal": gce["disposal"] if gce else 0,
            "delay_cs": gce["delay_cs"] if gce else 0,
        }
        frames.append((px, opaque, meta))
        gce = None                               # GCE covers ONE image

    if not frames:
        raise ValueError("GIF contains no image block")
    # Composite per the GIF89a disposal model: 0/1 leave, 2 restore
    # background (transparent, rendered as zeros), 3 restore previous.
    screen = np.zeros((sh, sw, 3), np.uint8)
    alpha = np.zeros((sh, sw), np.uint8)
    composited = []
    for px, opaque, meta in frames:
        left, top = meta["left"], meta["top"]
        h, w = px.shape[:2]
        saved = (screen.copy(), alpha.copy())
        region = screen[top:top + h, left:left + w]
        aregion = alpha[top:top + h, left:left + w]
        if opaque is None:
            region[:] = px
            aregion[:] = 255
        else:
            region[opaque] = px[opaque]
            aregion[opaque] = 255
        composited.append(screen.copy())
        if meta["disposal"] == 2:                # restore background
            region[:] = 0
            aregion[:] = 0
        elif meta["disposal"] == 3:              # restore previous
            screen, alpha = saved
    first_alpha = np.zeros((sh, sw), np.uint8)
    px, opaque, meta = frames[0]
    h, w = px.shape[:2]
    first_alpha[meta["top"]:meta["top"] + h,
                meta["left"]:meta["left"] + w] = (
        255 if opaque is None else opaque.astype(np.uint8) * 255)
    return {
        "width": int(sw),
        "height": int(sh),
        "n_pixels": int(sw * sh),
        "n_frames": len(frames),
        "pixels": composited[0],
        "alpha": first_alpha,
        "frames": [px for px, _, _ in frames],
        "frame_meta": [m for _, _, m in frames],
        "composited": composited,
    }


def build_gif(indices: np.ndarray, palette: np.ndarray,
              interlace: bool = False,
              transparency_index: int | None = None,
              disposal: int = 0, delay_cs: int = 0) -> bytes:
    """Assemble a single-frame GIF89a from an (h, w) palette-index
    array and an (n, 3) RGB palette (n a power of two, 4..256).
    A Graphic Control Extension is emitted when transparency /
    disposal / delay is requested. Deterministic bytes —
    gate-corpus/test producer."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    n = len(pal)
    if n not in (4, 8, 16, 32, 64, 128, 256) or pal.shape[1] != 3:
        raise ValueError("palette must be (2^k, 3), k in 2..8")
    if int(idx.max()) >= n:
        raise ValueError("index out of palette range")
    kbits = n.bit_length() - 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((kbits - 1) & 7), 0, 0)
    out += pal.tobytes()
    if transparency_index is not None or disposal or delay_cs:
        gpacked = ((disposal & 7) << 2) | (
            1 if transparency_index is not None else 0)
        out += b"\x21\xF9\x04" + struct.pack(
            "<BHB", gpacked, delay_cs,
            transparency_index if transparency_index is not None else 0)
        out += b"\x00"
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    rows = idx
    if interlace:
        order = []
        for start, step in _INTERLACE_PASSES:
            order.extend(range(start, h, step))
        rows = idx[order]
    min_code = max(2, kbits)
    out.append(min_code)
    payload = lzw_encode(rows.tobytes(), min_code)
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3B"
    return bytes(out)
