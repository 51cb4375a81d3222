"""Real-bytes TIFF (6.0) codec — the remaining container real image
columns carry (scanners, ML dataset dumps, geo rasters). Pure stdlib +
numpy from the public TIFF 6.0 specification: both byte orders
("II"/"MM"), IFD walk with typed 12-byte entries (SHORT/LONG inline or
offset-referenced), strip assembly (StripOffsets / StripByteCounts /
RowsPerStrip), and the four baseline compressions — none (1), TIFF-LZW
(5: MSB-first packing, 9..12-bit codes with the EARLY-CHANGE width
bump one code before the table fills, Clear=256/EOI=257), Deflate (8,
stdlib zlib), and PackBits (32773) — plus the horizontal-differencing
predictor (tag 317 = 2) and gray (0/1), RGB (2), and palette (3)
photometric interpretations.

TIFF-LZW is deliberately a SECOND, independent LZW implementation:
GIF's (codec/gif.py) packs LSB-first and grows at 2^width; TIFF packs
MSB-first and grows at 2^width - 1. Sharing code would let one
format's quirks leak into the other; each is pinned by its own
hand-packed goldens.

Fails loudly (ValueError) on truncation, bad magic, unsupported
compression/photometric values (named — the swap-point contract),
strip over/underruns, or palette range errors — the engine's
corrupt-skip contract (same as every codec/ parser).

The encoder synthesizes REAL payloads for the gate corpus and tests:
true dictionary TIFF-LZW with early-change, real PackBits runs, real
strip splitting — like build_png / build_gif / build_webp.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_CLEAR = 256
_EOI = 257
_TIFF_MAX = 4094           # table size at which the encoder re-clears


# --- TIFF-LZW (MSB-first, early change) ---------------------------------

def tiff_lzw_decode(data: bytes, expected: int) -> bytearray:
    """Decode a TIFF-LZW strip to ``expected`` bytes."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated TIFF-LZW strip (EOF before EOI)")
            acc = (acc << 8) | data[pos]       # TIFF packs MSB-first
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width

        if code == _CLEAR:
            reset()
            continue
        if code == _EOI:
            break
        if prev is None:
            if code >= len(table) or code > 255:
                raise ValueError(f"TIFF-LZW code {code} after clear")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):               # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(
                f"TIFF-LZW code {code} beyond table {len(table)}")
        out += entry
        prev = entry
        # EARLY CHANGE: widen one code before the table fills
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        if len(out) > expected:
            raise ValueError(
                f"TIFF-LZW overrun: {len(out)} > {expected} bytes")
    if len(out) != expected:
        raise ValueError(
            f"TIFF-LZW underrun: {len(out)} of {expected} bytes")
    return out


def tiff_lzw_encode(raw: bytes) -> bytes:
    """True dictionary TIFF-LZW with early change (the 6.0 algorithm)."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_CLEAR, width)
    w = b""
    for b in raw:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        # decoder-visible growth: its table reaches next_code - 1 after
        # consuming this code, and widens at (1 << width) - 1
        if next_code - 1 == (1 << width) - 1 and width < 12:
            width += 1
        if next_code > _TIFF_MAX:
            emit(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w], width)
        # decoder appends one more entry after the final data code —
        # mirror its early-change check (the GIF round-8 lesson)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# --- PackBits ------------------------------------------------------------

def packbits_decode(data: bytes, expected: int) -> bytearray:
    out = bytearray()
    pos = 0
    while len(out) < expected:
        if pos >= len(data):
            raise ValueError("truncated PackBits strip")
        n = data[pos]
        pos += 1
        if n < 128:                            # literal run of n+1
            if pos + n + 1 > len(data):
                raise ValueError("truncated PackBits literal")
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:                          # repeat next byte 257-n
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op (spec)
    if len(out) != expected:
        raise ValueError(
            f"PackBits overrun: {len(out)} != {expected} bytes")
    return out


def packbits_encode(raw: bytes) -> bytes:
    """Real run/literal PackBits (repeat runs >= 3 encoded as runs)."""
    def runlen(i):
        r = 1
        while i + r < len(raw) and r < 128 and raw[i + r] == raw[i]:
            r += 1
        return r

    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        r = runlen(i)
        if r >= 3:
            out.append(257 - r)
            out.append(raw[i])
            i += r
            continue
        lit_start = i
        while i < n and i - lit_start < 128 and runlen(i) < 3:
            i += 1
        chunk = raw[lit_start:i]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


# --- IFD / container -----------------------------------------------------

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

_COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_PACKBITS = 1, 5, 8, 32773
_SUPPORTED_COMP = {_COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_PACKBITS}


def _read_entries(data: bytes, ifd_off: int, bo: str) -> dict:
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF IFD")
    (n,) = struct.unpack_from(bo + "H", data, ifd_off)
    entries = {}
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(data):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, off)
        if typ not in _TYPE_SIZE or cnt == 0:
            continue            # unknown type / empty value: treat absent
        size = _TYPE_SIZE[typ] * cnt
        if size <= 4:
            voff = off + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", data, off + 8)
        if voff + size > len(data):
            raise ValueError(f"TIFF tag {tag} value out of bounds")
        if typ == 3:
            vals = struct.unpack_from(bo + f"{cnt}H", data, voff)
        elif typ == 4:
            vals = struct.unpack_from(bo + f"{cnt}I", data, voff)
        elif typ in (1, 2):
            vals = tuple(data[voff:voff + cnt])
        else:                                   # RATIONAL: pairs
            raw = struct.unpack_from(bo + f"{2 * cnt}I", data, voff)
            vals = tuple(raw)
        entries[tag] = vals
    return entries


def parse_tiff(data: bytes) -> dict:
    """Decode the FIRST image of a TIFF file; returns the shared image
    contract (width/height/n_pixels + (h, w, 3) RGB uint8 pixels).

    Compressed (LZW/Deflate/PackBits) strips decode through the system
    libtiff (codec/native.py) when it loads and its gate accepts the
    file, bit-identical to this decoder; uncompressed strips, hosts
    without libtiff and every native miss decode here."""
    from go_triton_spark.codec import native as _native

    try:
        m = _native.decode_tiff_native(data)
    except Exception:       # any native hiccup: the pure path re-judges
        m = None
    if m is not None:
        return m
    if len(data) < 8:
        raise ValueError("not a TIFF file (too short)")
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF file (bad magic)")
    (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
    tags = _read_entries(data, ifd_off, bo)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    if width < 1 or height < 1:
        raise ValueError(f"bad TIFF dimensions {width}x{height}")
    comp = one(259, 1)
    if comp not in _SUPPORTED_COMP:
        raise ValueError(
            f"unsupported TIFF compression {comp} (none/LZW/Deflate/"
            "PackBits only; JPEG-in-TIFF is a named swap point)")
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, (8,) * spp)
    if any(b != 8 for b in bits):
        raise ValueError("unsupported TIFF bit depth (8-bit only)")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rows_per_strip = one(278, height)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")

    rowbytes = width * spp
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise ValueError("TIFF strip out of bounds")
        nrows = min(rows_per_strip, height - si * rows_per_strip)
        if nrows <= 0:
            raise ValueError("TIFF has more strips than rows")
        strip = data[off:off + cnt]
        want = nrows * rowbytes
        if comp == _COMP_NONE:
            if len(strip) != want:
                raise ValueError("TIFF uncompressed strip size mismatch")
            raw += strip
        elif comp == _COMP_LZW:
            raw += tiff_lzw_decode(strip, want)
        elif comp == _COMP_DEFLATE:
            try:
                got = zlib.decompress(strip)
            except zlib.error as e:
                raise ValueError(f"corrupt TIFF deflate strip: {e}") from e
            if len(got) != want:
                raise ValueError("TIFF deflate strip size mismatch")
            raw += got
        else:
            raw += packbits_decode(strip, want)

    px = np.frombuffer(bytes(raw), np.uint8).reshape(height, width, spp)
    # Horizontal differencing lives inside the LZW/Deflate codecs;
    # libtiff ignores Predictor=2 on none/packbits files and this
    # decoder matches that reference behavior.
    if predictor == 2 and comp in (_COMP_LZW, _COMP_DEFLATE):
        px = np.cumsum(px, axis=1, dtype=np.uint8)  # wraps mod 256

    if photo in (0, 1):                         # grayscale
        if spp != 1:
            raise ValueError("gray TIFF with multiple samples")
        g = px[:, :, 0]
        if photo == 0:                          # WhiteIsZero: invert
            g = 255 - g
        rgb = np.repeat(g[:, :, None], 3, axis=2)
    elif photo == 2:                            # RGB
        if spp < 3:
            raise ValueError("RGB TIFF needs >= 3 samples per pixel")
        rgb = px[:, :, :3]
    elif photo == 3:                            # palette
        cmap = tags.get(320)
        if spp != 1 or not cmap or len(cmap) % 3:
            raise ValueError("palette TIFF missing/bad ColorMap")
        n = len(cmap) // 3
        pal16 = np.array(cmap, np.uint32).reshape(3, n).T
        pal = (pal16 >> 8).astype(np.uint8)     # 16-bit entries -> 8
        idx = px[:, :, 0]
        if int(idx.max()) >= n:
            raise ValueError("TIFF palette index out of range")
        rgb = pal[idx]
    else:
        raise ValueError(f"unsupported TIFF photometric {photo}")
    return {
        "width": int(width),
        "height": int(height),
        "n_pixels": int(width * height),
        "pixels": np.ascontiguousarray(rgb),
    }


def build_tiff(pixels: np.ndarray, compression: str = "none",
               predictor: bool = False, rows_per_strip: int | None = None,
               big_endian: bool = False) -> bytes:
    """Assemble an RGB TIFF from an (h, w, 3) uint8 array.
    ``compression``: none | lzw | deflate | packbits. Deterministic
    bytes — the gate/test producer."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("build_tiff expects (h, w, 3) RGB")
    h, w = arr.shape[:2]
    comp_id = {"none": _COMP_NONE, "lzw": _COMP_LZW,
               "deflate": _COMP_DEFLATE, "packbits": _COMP_PACKBITS}[compression]
    bo = ">" if big_endian else "<"
    rps = rows_per_strip or max(1, h // 2)      # >= 2 strips when we can

    store = arr
    if predictor:
        # TIFF 6.0 defines horizontal differencing as part of the
        # LZW (and by extension Deflate) codecs; libtiff ignores the
        # Predictor tag for none/packbits, so emitting that combo
        # produces files real readers decode differently (caught by
        # the libtiff differential suite).
        if compression not in ("lzw", "deflate"):
            raise ValueError("TIFF predictor requires lzw or deflate")
        first = arr[:, :1, :].astype(np.int64)
        diff = np.diff(arr.astype(np.int64), axis=1)
        store = np.concatenate([first, diff], axis=1).astype(np.uint8)

    strips = []
    for y0 in range(0, h, rps):
        raw = store[y0:y0 + rps].tobytes()
        if comp_id == _COMP_NONE:
            strips.append(raw)
        elif comp_id == _COMP_LZW:
            strips.append(tiff_lzw_encode(raw))
        elif comp_id == _COMP_DEFLATE:
            strips.append(zlib.compress(raw, 6))
        else:
            strips.append(packbits_encode(raw))

    n_tags = 10
    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    ifd_size = 2 + 12 * n_tags + 4
    # layout: header(8) IFD  bits_array(6)  strip offsets/counts  strips
    bits_off = 8 + ifd_size
    so_off = bits_off + 6
    sc_off = so_off + 4 * len(strips)
    data_off = sc_off + 4 * len(strips)
    offsets = []
    pos = data_off
    for s in strips:
        offsets.append(pos)
        pos += len(s)

    def entry(tag, typ, cnt, value):
        if typ == 3 and cnt == 1:
            return struct.pack(bo + "HHIHH", tag, typ, cnt, value, 0)
        return struct.pack(bo + "HHII", tag, typ, cnt, value)

    entries = [
        entry(256, 4, 1, w),
        entry(257, 4, 1, h),
        entry(258, 3, 3, bits_off),
        entry(259, 3, 1, comp_id),
        entry(262, 3, 1, 2),                    # RGB
        entry(273, 4, len(strips),
              so_off if len(strips) > 1 else offsets[0]),
        entry(277, 3, 1, 3),
        entry(278, 4, 1, rps),
        entry(279, 4, len(strips),
              sc_off if len(strips) > 1 else len(strips[0])),
        entry(317, 3, 1, 2 if predictor else 1),
    ]
    out = bytearray(header)
    out += struct.pack(bo + "H", n_tags)
    for e in sorted(entries,
                    key=lambda b: struct.unpack_from(bo + "H", b)[0]):
        out += e
    out += struct.pack(bo + "I", 0)             # no next IFD
    out += struct.pack(bo + "3H", 8, 8, 8)      # bits per sample
    for off in offsets:
        out += struct.pack(bo + "I", off)
    for s in strips:
        out += struct.pack(bo + "I", len(s))
    for s in strips:
        out += s
    return bytes(out)
