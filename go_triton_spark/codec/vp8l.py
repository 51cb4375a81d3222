"""Real-bytes WebP-lossless (VP8L) codec — closes the LAST named image
swap point (mm_gif_decode's docstring: "only WebP/VP8 keeps a swap
point"). Pure stdlib + numpy from the public WebP Lossless Bitstream
Specification (Google, 2012; the format of every lossless .webp on the
web): RIFF/WEBP container walk, the 0x2F-signature VP8L stream with
LSB-first bit packing, canonical prefix codes (both the "simple"
1-2-symbol form and the full code-length-coded form with 16/17/18
repeat codes), meta-prefix entropy images, color-cache hashing
(0x1e35a7bd multiplier), LZ77 backward references through the 120-entry
distance-to-plane-code neighborhood map, and all four transforms —
PREDICTOR (14 spatial modes, tile-coded), COLOR (signed 3.5 fixed-point
cross-channel deltas), SUBTRACT-GREEN, and COLOR-INDEXING (palette with
sub-byte pixel bundling at <=16 colors).

Decoder fails loudly (ValueError) on truncation, bad signatures,
over-long prefix codes, out-of-range backrefs, or repeated transforms —
the engine's corrupt-skip contract (same as codec/{png,jpeg,gif,...}).

The encoder synthesizes REAL payloads for the gate corpus and tests
(like build_png / build_jpeg / build_gif): true histogram-derived
canonical prefix codes, optional subtract-green / single-tile-predictor
/ palette transforms, and greedy distance-1 LZ77 runs, so the decoder's
dictionary and transform paths are genuinely exercised — not an
uncompressed shortcut.

Lossy VP8 (the other WebP flavor) decodes for real since round 9 via
codec/vp8.py (RFC 6386 key frames, bit-exact against libwebp);
parse_webp dispatches 'VP8 ' chunks there.  The VP8X extended
container also decodes: canvas/flags walk, ALPH alpha chunks (raw or
header-less-VP8L-compressed with the horizontal/vertical/gradient
prediction filters) composited over the lossy decode, metadata chunks
skipped.  Level-reduced alpha decodes to the bitstream values (the
spec marks the pre-processing bits informative; libwebp's optional
display-side smoothing is not replicated).  ANIMATED WebP decodes
too: ANIM/ANMF walk with per-frame blending/disposal composited onto
the canvas (parse_gif's frames contract).  Every per-frame payload
goes through the bit-exact-oracle'd VP8/VP8L decoders; the
COMPOSITING arithmetic is implemented from the container spec's
formulas with the rounding documented at _blend_over (no demux
library exists in this container to cross-check composited output —
tests pin it against an independent in-test reference instead).
"""

from __future__ import annotations

import struct

import numpy as np

# Distance-to-plane-code neighborhood map (spec section 4.2.2): codes
# 1..120 address nearby already-decoded pixels as (dx, dy) offsets;
# codes > 120 mean scan-line distance (code - 120). The spec's table
# holds every already-decoded neighbor in the window dy 0..7, dx -7..8
# (dy > 0, or dy == 0 with dx > 0: 8 * 16 - 8 = 120 entries), ordered
# by squared Euclidean distance, ties broken by larger dy then larger
# dx — equal entry-for-entry to the published listing and libwebp's
# kCodeToPlane. It is NOT the 120 nearest neighbors: those match only
# codes 1-96.


def _gen_dist_map() -> tuple:
    cands = [(x, y) for y in range(8) for x in range(-7, 9)
             if y > 0 or x > 0]
    cands.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], -p[0]))
    return tuple(cands)


_DIST_MAP = _gen_dist_map()

# order in which the code-length code's own 3-bit lengths are stored
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
             13, 14, 15)

_GREEN_BASE = 256          # literal green values
_N_LENGTH = 24             # LZ77 length prefix codes
_N_DIST = 40               # distance prefix codes
_HASH_MUL = 0x1E35A7BD     # color-cache multiplier (spec)


# --- bit I/O (LSB-first, the VP8L convention) --------------------------

class _Bits:
    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bits(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError("truncated VP8L stream")
            self.acc |= self.data[self.pos] << self.n
            self.n += 8
            self.pos += 1
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v

    def peek(self, k: int) -> int:
        """k bits WITHOUT consuming; zero-padded at EOF (a following
        skip() still fails loudly if the code needs the missing bits)."""
        while self.n < k and self.pos < len(self.data):
            self.acc |= self.data[self.pos] << self.n
            self.n += 8
            self.pos += 1
        return self.acc & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        if self.n < k:
            raise ValueError("truncated VP8L stream")
        self.acc >>= k
        self.n -= k


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, k: int) -> None:
        self.acc |= (v & ((1 << k) - 1)) << self.n
        self.n += k
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def bytes(self) -> bytes:
        out = bytes(self.out)
        if self.n:
            out += bytes([self.acc & 0xFF])
        return out


# --- canonical prefix codes --------------------------------------------

def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """DEFLATE-style canonical assignment: symbol -> (code, length),
    code bits MSB-first (the first bit read descends from the root)."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _Prefix:
    """Prefix-code decoder built from code lengths: a root lookup
    table over the next ``_LUT_BITS`` stream bits (zlib-style, codes
    stored bit-reversed for the LSB-first reader) with a tree-walk
    slow path for longer codes."""

    _LUT_BITS = 9

    __slots__ = ("tree", "single", "lut", "lbits")

    def __init__(self, lengths: list[int], build_lut: bool = True):
        used = [(s, ln) for s, ln in enumerate(lengths) if ln]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            # single-symbol code: decodes with ZERO bits consumed
            self.single = used[0][0]
            self.tree = None
            self.lut = None
            self.lbits = 0
            return
        # Kraft check: over-subscribed or incomplete codes are corrupt
        kraft = sum(1 << (15 - ln) for _, ln in used
                    if ln <= 15)
        if any(ln > 15 for _, ln in used) or kraft != (1 << 15):
            raise ValueError("invalid prefix code lengths")
        self.single = None
        self.tree = [None, None]
        codes = _canonical_codes(lengths)
        self.lbits = min(self._LUT_BITS, max(ln for _, ln in used))
        # the root LUT costs up to 2^lbits fills to build: worth it for
        # large images (thousands of symbol decodes), pure overhead for
        # a 200-pixel tile/palette image — the caller passes the hint
        self.lut = [None] * (1 << self.lbits) if build_lut else None
        for sym, ln in used:
            code, _ = codes[sym]
            if self.lut is not None and ln <= self.lbits:
                rev = int(f"{code:0{ln}b}"[::-1], 2)
                for j in range(1 << (self.lbits - ln)):
                    self.lut[rev | (j << ln)] = (sym, ln)
            node = self.tree
            for i in range(ln - 1, 0, -1):
                b = (code >> i) & 1
                if node[b] is None:
                    node[b] = [None, None]
                node = node[b]
                if not isinstance(node, list):
                    raise ValueError("prefix code collision")
            node[code & 1] = sym

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        if self.lut is not None:
            hit = self.lut[br.peek(self.lbits)]
            if hit is not None:
                br.skip(hit[1])
                return hit[0]
        node = self.tree
        while True:
            node = node[br.bits(1)]
            if not isinstance(node, list):
                if node is None:
                    raise ValueError("invalid prefix code path")
                return node


def _read_prefix_code(br: _Bits, alphabet_size: int,
                      build_lut: bool = False) -> _Prefix:
    """Read one prefix code: simple (1-2 symbols) or code-length-coded."""
    if br.bits(1):                                 # simple
        num_symbols = br.bits(1) + 1
        if br.bits(1):                             # first symbol 8 bits
            first = br.bits(8)
        else:
            first = br.bits(1)
        lengths = [0] * alphabet_size
        if first >= alphabet_size:
            raise ValueError("simple prefix symbol out of range")
        lengths[first] = 1
        if num_symbols == 2:
            second = br.bits(8)
            if second >= alphabet_size or second == first:
                raise ValueError("bad simple prefix second symbol")
            lengths[second] = 1
        return _Prefix(lengths, build_lut)
    num_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl_tree = _Prefix(cl_lengths)

    if br.bits(1):                                 # bounded symbol count
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_tree.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            if code_len == 16:
                repeat, value = 3 + br.bits(2), prev_len
            elif code_len == 17:
                repeat, value = 3 + br.bits(3), 0
            else:                                  # 18
                repeat, value = 11 + br.bits(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("prefix code length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = value
                symbol += 1
    return _Prefix(lengths, build_lut)


def _lz77_value(prefix_code: int, br: _Bits) -> int:
    """Length/distance prefix code -> value (spec section 4.2.2)."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.bits(extra) + 1


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * xsize + dx)


# --- spatially-coded image decode --------------------------------------

def _decode_image(br: _Bits, xsize: int, ysize: int,
                  top_level: bool = False):
    """Decode one spatially-coded ARGB image (spec DecodeImageStream
    without the transform prelude); returns flat uint32 array of
    xsize*ysize pixels. Sub-images (entropy/transform/palette data)
    use the same coder with no meta-prefix."""
    # Field order per the spec (and libwebp's DecodeImageStream):
    # color-cache info FIRST, then the meta-prefix bit (top level
    # only). The reverse order is invisible to a same-author round
    # trip — both flags off writes the identical 00 bit pair — and was
    # caught by the libwebp differential suite.
    cache_bits = 0
    cache = None
    if br.bits(1):                                 # color cache
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad color cache bits {cache_bits}")
        cache = [0] * (1 << cache_bits)
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if top_level and br.bits(1):                   # meta prefix codes
        meta_bits = br.bits(3) + 2
        mx = -(-xsize // (1 << meta_bits))
        my = -(-ysize // (1 << meta_bits))
        meta_img = _decode_image(br, mx, my)
        meta = (((meta_img >> 8) & 0xFFFF)).astype(np.int64)
        n_groups = int(meta.max()) + 1

    big = xsize * ysize >= 4096          # LUT amortizes past ~4k pixels
    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(br, _GREEN_BASE + _N_LENGTH + cache_size,
                                  build_lut=big)
        red = _read_prefix_code(br, 256, build_lut=big)
        blue = _read_prefix_code(br, 256, build_lut=big)
        alpha = _read_prefix_code(br, 256, build_lut=big)
        dist = _read_prefix_code(br, _N_DIST, build_lut=big)
        groups.append((green, red, blue, alpha, dist))

    n = xsize * ysize
    out = np.zeros(n, np.uint32)
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    mx = -(-xsize // (1 << meta_bits)) if meta is not None else 0
    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            g_idx = int(meta[(y >> meta_bits) * mx + (x >> meta_bits)])
            if g_idx >= n_groups:
                raise ValueError("meta prefix group out of range")
            green, red, blue, alpha, dist = groups[g_idx]
        else:
            green, red, blue, alpha, dist = groups[0]
        sym = green.decode(br)
        if sym < _GREEN_BASE:                      # literal
            r = red.decode(br)
            b = blue.decode(br)
            a = alpha.decode(br)
            px = (a << 24) | (r << 16) | (sym << 8) | b
            out[pos] = px
            if cache is not None:
                cache[(px * _HASH_MUL & 0xFFFFFFFF) >> shift] = px
            pos += 1
        elif sym < _GREEN_BASE + _N_LENGTH:        # LZ77 backref
            length = _lz77_value(sym - _GREEN_BASE, br)
            dcode = dist.decode(br)
            d = _plane_to_dist(_lz77_value(dcode, br), xsize)
            if d > pos:
                raise ValueError("LZ77 distance before image start")
            if pos + length > n:
                raise ValueError("LZ77 length past image end")
            for _ in range(length):
                px = int(out[pos - d])
                out[pos] = px
                if cache is not None:
                    cache[(px * _HASH_MUL & 0xFFFFFFFF) >> shift] = px
                pos += 1
        else:                                      # color-cache hit
            idx = sym - _GREEN_BASE - _N_LENGTH
            if cache is None or idx >= cache_size:
                raise ValueError("color cache reference without cache")
            out[pos] = cache[idx]
            pos += 1
    return out


# --- inverse transforms -------------------------------------------------

def _inv_subtract_green(px: np.ndarray) -> np.ndarray:
    g = (px >> 8) & 0xFF
    r = ((px >> 16) + g) & 0xFF
    b = (px + g) & 0xFF
    return (px & 0xFF00FF00) | (r << 16) | b


def _avg2(a: int, b: int) -> int:
    """Per-channel floor average of two ARGB pixels."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _select(left: int, top: int, tl: int) -> int:
    p = [0] * 4
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        est = ((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pl += abs(est - ((left >> sh) & 0xFF))
        pt += abs(est - ((top >> sh) & 0xFF))
    del p
    return left if pl < pt else top


def _clamp_add_full(left: int, top: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_half(ave: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        # C integer division truncates toward zero
        v = a + (d // 2 if d >= 0 else -((-d) // 2))
        out |= max(0, min(255, v)) << sh
    return out


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:
        return _select(left, top, tl)
    if mode == 12:
        return _clamp_add_full(left, top, tl)
    if mode == 13:
        return _clamp_add_half(_avg2(left, top), tl)
    raise ValueError(f"bad predictor mode {mode}")


def _add_pixels(a: int, b: int) -> int:
    """Per-channel mod-256 sum of two ARGB pixels."""
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) + ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _inv_predictor(px: np.ndarray, xsize: int, ysize: int,
                   size_bits: int, tiles: np.ndarray) -> np.ndarray:
    """Invert the predictor transform IN SCAN ORDER (each pixel's
    predictor reads already-reconstructed neighbors). Flat-index
    neighbor semantics: TR of the rightmost column is the current
    row's first pixel (the spec's contiguous-buffer rule)."""
    out = px.astype(np.int64).copy()
    tx = -(-xsize // (1 << size_bits))
    for pos in range(xsize * ysize):
        x, y = pos % xsize, pos // xsize
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(out[pos - 1])               # row 0: forced L
        elif x == 0:
            pred = int(out[pos - xsize])           # col 0: forced T
        else:
            mode = (int(tiles[(y >> size_bits) * tx + (x >> size_bits)])
                    >> 8) & 0xFF
            if mode > 13:
                raise ValueError(f"bad predictor mode {mode}")
            left = int(out[pos - 1])
            top = int(out[pos - xsize])
            tl = int(out[pos - xsize - 1])
            tr = int(out[pos - xsize + 1])
            pred = _predict(mode, left, top, tl, tr)
        out[pos] = _add_pixels(int(out[pos]), pred)
    return out.astype(np.uint32)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point color-transform delta: both the transform
    element and the channel value are interpreted as int8."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _ct_delta_vec(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized signed 3.5 fixed-point delta: int8(t) * int8(c) >> 5
    (arithmetic shift — numpy >> on signed ints floors, same as C)."""
    return (t.astype(np.int8).astype(np.int64)
            * c.astype(np.int8).astype(np.int64)) >> 5


def _inv_color_transform(px: np.ndarray, xsize: int, ysize: int,
                         size_bits: int, tiles: np.ndarray) -> np.ndarray:
    """Vectorized inverse color transform: the per-pixel deltas depend
    only on the pixel's own channels and its tile's elements, so the
    whole plane inverts in a handful of array ops (this is the DECODE
    path — production cost, unlike the encoder's forward half)."""
    tx = -(-xsize // (1 << size_bits))
    grid = px.reshape(ysize, xsize)
    ty = -(-ysize // (1 << size_bits))
    tgrid = tiles.reshape(ty, tx)
    # per-pixel tile element via index broadcast
    yy = np.arange(ysize) >> size_bits
    xx = np.arange(xsize) >> size_bits
    elem = tgrid[yy[:, None], xx[None, :]].astype(np.int64)
    g2r = elem & 0xFF
    g2b = (elem >> 8) & 0xFF
    r2b = (elem >> 16) & 0xFF
    v = grid.astype(np.int64)
    g = (v >> 8) & 0xFF
    r = (((v >> 16) & 0xFF) + _ct_delta_vec(g2r, g)) & 0xFF
    b = ((v & 0xFF) + _ct_delta_vec(g2b, g) + _ct_delta_vec(r2b, r)) & 0xFF
    out = (v & 0xFF00FF00) | (r << 16) | b
    return out.astype(np.uint32).reshape(-1)


def _inv_palette(px: np.ndarray, orig_xsize: int, ysize: int,
                 palette: np.ndarray, width_bits: int) -> np.ndarray:
    """Expand color-indexed pixels: unbundle sub-byte indices from the
    green channel (LSB-first within the byte), then look up."""
    if width_bits:
        per = 1 << width_bits
        bpp = 8 >> width_bits
        mask = (1 << bpp) - 1
        packed_x = -(-orig_xsize // per)
        g = ((px.reshape(ysize, packed_x) >> 8) & 0xFF).astype(np.uint32)
        xs = np.arange(orig_xsize)
        idx = (g[:, xs // per] >> ((xs % per) * bpp)) & mask
        idx = idx.reshape(-1)
    else:
        idx = (px >> 8) & 0xFF
    if int(idx.max()) >= len(palette):
        raise ValueError("palette index out of range")
    return palette[idx.astype(np.int64)]


def _bundle_width_bits(palette_size: int) -> int:
    if palette_size <= 2:
        return 3
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


# --- top-level parse ----------------------------------------------------

def parse_vp8l(payload: bytes) -> dict:
    """Decode one VP8L chunk payload; returns width/height/pixels (RGB)
    + has_alpha/alpha plane, the parse_png/parse_bmp contract."""
    br = _Bits(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    width = br.bits(14) + 1
    height = br.bits(14) + 1
    br.bits(1)                                     # alpha hint
    if br.bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    px = _decode_argb(br, width, height)
    rgb = np.dstack([((px >> 16) & 0xFF).astype(np.uint8),
                     ((px >> 8) & 0xFF).astype(np.uint8),
                     (px & 0xFF).astype(np.uint8)])
    alpha = ((px >> 24) & 0xFF).astype(np.uint8)
    return {
        "width": int(width),
        "height": int(height),
        "n_pixels": int(width * height),
        "pixels": rgb,
        "alpha": alpha,
        "has_alpha": bool((alpha != 255).any()),
    }


def _decode_argb(br: _Bits, width: int, height: int) -> np.ndarray:
    """The transform + entropy body of a VP8L image stream, WITHOUT the
    signature/dimension header — shared by parse_vp8l and the ALPH
    alpha sub-stream of extended WebP (the container spec stores alpha
    as a header-less VP8L stream with dimensions known from VP8X).
    Returns the (height, width) uint32 ARGB array."""
    xsize = width
    transforms = []                                # (kind, data...) read order
    seen = set()
    while br.bits(1):
        t = br.bits(2)
        if t in seen:
            raise ValueError(f"repeated VP8L transform {t}")
        seen.add(t)
        if t == 2:                                 # subtract green
            transforms.append(("sub_green",))
        elif t in (0, 1):                          # predictor / color
            size_bits = br.bits(3) + 2
            tx = -(-xsize // (1 << size_bits))
            ty = -(-height // (1 << size_bits))
            tiles = _decode_image(br, tx, ty)
            transforms.append(("predictor" if t == 0 else "color",
                               size_bits, tiles, xsize))
        else:                                      # color indexing
            n_colors = br.bits(8) + 1
            pal_deltas = _decode_image(br, n_colors, 1)
            pal = np.zeros(n_colors, np.uint32)
            acc = 0
            for i in range(n_colors):
                acc = _add_pixels(acc, int(pal_deltas[i]))
                pal[i] = acc
            wb = _bundle_width_bits(n_colors)
            transforms.append(("palette", pal, wb, xsize))
            if wb:
                xsize = -(-xsize // (1 << wb))

    px = _decode_image(br, xsize, height, top_level=True)

    for tf in reversed(transforms):
        if tf[0] == "sub_green":
            px = _inv_subtract_green(px)
        elif tf[0] == "predictor":
            px = _inv_predictor(px, tf[3], height, tf[1], tf[2])
        elif tf[0] == "color":
            px = _inv_color_transform(px, tf[3], height, tf[1], tf[2])
        else:                                      # palette
            px = _inv_palette(px, tf[3], height, tf[1], tf[2])

    return px.reshape(height, width)


def _decode_alph(body: bytes, width: int, height: int) -> np.ndarray:
    """Decode an extended-WebP ALPH chunk to the (height, width) uint8
    alpha plane (container spec 'Alpha' section): a method/filter/
    pre-processing header byte, then either raw bytes or a header-less
    VP8L stream carrying alpha in the green channel, then the inverse
    of the per-pixel prediction filter."""
    if not body:
        raise ValueError("empty ALPH chunk")
    hdr = body[0]
    method = hdr & 0x3
    filt = (hdr >> 2) & 0x3
    # bits 4-5 (pre-processing) are INFORMATIVE per the container spec
    # ("the decoder can use this information to e.g. smooth gradients
    # prior to display"): the decoded values below ARE the bitstream
    # truth for level-reduced alpha too; libwebp's optional smoothing
    # post-process is display-side and deliberately not replicated
    # (the differential suite pins the pre-processing=0 paths).
    if method == 0:
        if len(body) - 1 < width * height:
            raise ValueError("raw ALPH chunk shorter than plane")
        a = np.frombuffer(body, np.uint8, width * height, 1) \
            .reshape(height, width).astype(np.int32)
    elif method == 1:
        px = _decode_argb(_Bits(body[1:]), width, height)
        a = ((px >> 8) & 0xFF).astype(np.int32)    # alpha rides green
    else:
        raise ValueError(f"reserved ALPH compression method {method}")
    if filt == 0:
        return a.astype(np.uint8)
    if filt == 1:
        # horizontal: col 0 accumulates DOWN (pred = above), each row
        # then accumulates ACROSS — both are mod-256 prefix sums
        a[:, 0] = np.cumsum(a[:, 0]) & 0xFF
        out = np.cumsum(a, axis=1, dtype=np.int64) & 0xFF
        return out.astype(np.uint8)
    if filt == 2:
        # vertical: row 0 accumulates ACROSS, columns accumulate DOWN
        a[0, :] = np.cumsum(a[0, :]) & 0xFF
        out = np.cumsum(a, axis=0, dtype=np.int64) & 0xFF
        return out.astype(np.uint8)
    # gradient: pred depends on the just-reconstructed left pixel, so
    # rows are sequential in x (alpha planes ride one doc per task in
    # the pipeline — this loop is per-image small)
    out = np.zeros_like(a)
    out[0, :] = np.cumsum(a[0, :]) & 0xFF
    for y in range(1, height):
        out[y, 0] = (a[y, 0] + out[y - 1, 0]) & 0xFF
        for x in range(1, width):
            g = (int(out[y, x - 1]) + int(out[y - 1, x])
                 - int(out[y - 1, x - 1]))
            pred = 0 if g < 0 else (255 if g > 255 else g)
            out[y, x] = (a[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def _decode_frame_chunks(data: bytes, pos: int, end: int) -> dict:
    """Walk chunks for ONE still image (optional ALPH, then VP8/VP8L);
    returns the full parse dict with any ALPH alpha already
    composited.  Shared by the still-VP8X path and each ANMF
    animation frame."""
    alpha_body = None
    while pos + 8 <= end:
        ctype = data[pos:pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        cbody = pos + 8
        if cbody + csize > end:
            raise ValueError("truncated WebP chunk")
        if ctype == b"ALPH":
            alpha_body = data[cbody:cbody + csize]
        elif ctype == b"VP8L":
            return parse_vp8l(data[cbody:cbody + csize])
        elif ctype == b"VP8 ":
            from go_triton_spark.codec.vp8 import parse_vp8
            m = parse_vp8(data[cbody:cbody + csize])
            if alpha_body is not None:
                a = _decode_alph(alpha_body, m["width"], m["height"])
                m["alpha"] = a
                m["has_alpha"] = bool((a != 255).any())
            return m
        elif ctype in (b"ANIM", b"ANMF"):
            # only reachable from the still-image path (ANMF bodies
            # never nest animation chunks): the VP8X flags promised a
            # still image — decoding around the frames would be a
            # silent mis-decode
            raise ValueError("animation chunk in still WebP container")
        # ICCP / EXIF / XMP: skip
        pos = cbody + csize + (csize & 1)
    raise ValueError("WebP frame missing image chunk")


def _blend_over(canvas: np.ndarray, frame_rgb: np.ndarray,
                frame_a: np.ndarray, y: int, x: int) -> None:
    """Container-spec alpha compositing of a frame rectangle onto the
    RGBA canvas, in exact integer math: with alphas in 0..255,
      A_out*255 = Sa*255 + Da*(255-Sa)
      C_out     = round((Sc*Sa*255 + Dc*Da*(255-Sa)) / (A_out*255))
    (round = nearest, half away from zero — documented here because
    the spec writes the formula over reals and leaves rounding to the
    implementation)."""
    h, w = frame_a.shape
    dst = canvas[y:y + h, x:x + w]
    sa = frame_a.astype(np.int64)
    da = dst[..., 3].astype(np.int64)
    sc = frame_rgb.astype(np.int64)
    dc = dst[..., :3].astype(np.int64)
    wa = da * (255 - sa)                       # dst weight (x255 scale)
    ao255 = sa * 255 + wa
    num = sc * (sa * 255)[..., None] + dc * wa[..., None]
    safe = np.maximum(ao255, 1)
    rgb = (2 * num + safe[..., None]) // (2 * safe[..., None])
    rgb = np.where(ao255[..., None] == 0, 0, rgb)
    dst[..., :3] = rgb.astype(np.uint8)
    dst[..., 3] = ((2 * ao255 + 255) // 510).astype(np.uint8)


def _parse_anim(data: bytes, pos: int, end: int, cw: int, ch: int) -> dict:
    """Animated WebP: ANIM (background/loop) + ANMF frames, each a
    still image composited onto the canvas per the container spec's
    blending (B) and disposal (D) bits.  Mirrors parse_gif's contract:
    ``pixels``/``alpha`` = first composited canvas frame, ``frames`` =
    every composited canvas frame, ``frame_meta`` = offsets/durations/
    flags.  The canvas starts fully transparent; disposal fills the
    frame rectangle with the ANIM background color."""
    bg = (0, 0, 0, 0)
    loop = 0
    seen_anim = False
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    frames = []
    meta = []
    while pos + 8 <= end:
        ctype = data[pos:pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        cbody = pos + 8
        if cbody + csize > end:
            raise ValueError("truncated WebP chunk")
        if ctype == b"ANIM":
            if csize < 6:
                raise ValueError("short ANIM chunk")
            b_, g_, r_, a_ = data[cbody:cbody + 4]      # BGRA on the wire
            bg = (r_, g_, b_, a_)
            loop = int.from_bytes(data[cbody + 4:cbody + 6], "little")
            seen_anim = True
        elif ctype == b"ANMF":
            if not seen_anim:
                # the container spec puts ANIM before the first ANMF;
                # compositing frames before the file's background color
                # is known would silently dispose onto the wrong color —
                # loud corrupt-skip, same contract as every parser here
                raise ValueError("ANMF before ANIM in animated WebP")
            if csize < 16:
                raise ValueError("short ANMF header")
            fx = 2 * int.from_bytes(data[cbody:cbody + 3], "little")
            fy = 2 * int.from_bytes(data[cbody + 3:cbody + 6], "little")
            fw = 1 + int.from_bytes(data[cbody + 6:cbody + 9], "little")
            fh = 1 + int.from_bytes(data[cbody + 9:cbody + 12], "little")
            dur = int.from_bytes(data[cbody + 12:cbody + 15], "little")
            flags = data[cbody + 15]
            no_blend = bool(flags & 0x02)
            dispose = bool(flags & 0x01)
            if fx + fw > cw or fy + fh > ch:
                raise ValueError("ANMF frame exceeds canvas")
            fm = _decode_frame_chunks(data, cbody + 16, cbody + csize)
            rgb, a = fm["pixels"], fm["alpha"]
            if (fm["width"], fm["height"]) != (fw, fh):
                raise ValueError("ANMF size disagrees with image chunk")
            if no_blend:
                canvas[fy:fy + fh, fx:fx + fw, :3] = rgb
                canvas[fy:fy + fh, fx:fx + fw, 3] = a
            else:
                _blend_over(canvas, rgb, a, fy, fx)
            frames.append(canvas.copy())
            meta.append({"x": fx, "y": fy, "w": fw, "h": fh,
                         "duration_ms": dur, "no_blend": no_blend,
                         "dispose": dispose})
            if dispose:
                canvas[fy:fy + fh, fx:fx + fw] = bg
        pos = cbody + csize + (csize & 1)
    if not frames:
        raise ValueError("animated WebP with no ANMF frames")
    first = frames[0]
    return {
        "width": cw,
        "height": ch,
        "n_pixels": cw * ch,
        "pixels": first[..., :3].copy(),
        "alpha": first[..., 3].copy(),
        "has_alpha": bool((first[..., 3] != 255).any()),
        "n_frames": len(frames),
        "frames": [f[..., :3].copy() for f in frames],
        "frame_alphas": [f[..., 3].copy() for f in frames],
        "frame_meta": meta,
        "loop_count": loop,
        "background": bg,
    }


def _parse_vp8x(data: bytes, body: bytes, after: int, end: int) -> dict:
    """Extended WebP: VP8X flags + canvas size, then either an
    animation (ANIM/ANMF frames, composited) or a still image
    (optional ALPH + VP8/VP8L, via the same chunk walk every ANMF
    frame uses); metadata chunks (ICCP/EXIF/XMP) are skipped.
    ``after`` is the offset just past the VP8X chunk as located by
    parse_webp's walk — NOT assumed to be a fixed header offset, so a
    container with leading metadata chunks still parses."""
    if len(body) < 10:
        raise ValueError("short VP8X chunk")
    flags = body[0]
    cw = 1 + int.from_bytes(body[4:7], "little")
    ch = 1 + int.from_bytes(body[7:10], "little")
    if flags & 0x02:
        return _parse_anim(data, after, end, cw, ch)
    meta = _decode_frame_chunks(data, after, end)
    if (meta["width"], meta["height"]) != (cw, ch):
        raise ValueError("VP8X canvas size disagrees with image chunk")
    return meta


def parse_webp(data: bytes) -> dict:
    """Parse a WebP file (RIFF container): lossless VP8L decodes via
    this module; lossy VP8 key frames decode via codec/vp8.py (RFC
    6386, bit-exact against libwebp — tests/test_vp8_codec.py); VP8X
    extended containers decode incl. ALPH alpha and ANIM/ANMF
    animation frames.

    Bare VP8/VP8L containers decode through the system libwebp
    (codec/native.py) when it loads — bit-identical output, ~2-3
    orders of magnitude faster on large frames; VP8X containers, hosts
    without libwebp and every native miss decode here."""
    from go_triton_spark.codec import native as _native

    try:
        m = _native.decode_webp_native(data)
    except Exception:       # any native hiccup: the pure path re-judges
        m = None
    if m is not None:
        return m
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP file (bad RIFF header)")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_size)
    pos = 12
    while pos + 8 <= end:
        ctype = data[pos:pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + csize > end:
            raise ValueError("truncated WebP chunk")
        if ctype == b"VP8L":
            return parse_vp8l(data[body:body + csize])
        if ctype == b"VP8 ":
            from go_triton_spark.codec.vp8 import parse_vp8
            return parse_vp8(data[body:body + csize])
        if ctype == b"VP8X":
            after = body + csize + (csize & 1)
            return _parse_vp8x(data, data[body:body + csize], after, end)
        pos = body + csize + (csize & 1)           # chunks are 2-aligned
    raise ValueError("WebP missing VP8/VP8L chunk")


# --- encoder (gate-corpus / test producer) ------------------------------

def _huff_lengths(counts: list[int], max_len: int = 15) -> list[int]:
    """Code lengths from symbol counts: heap Huffman, with a flat
    ceil(log2(n))-bit fallback if the tree exceeds ``max_len`` (always
    Kraft-complete either way once padded below)."""
    import heapq

    used = [s for s, c in enumerate(counts) if c]
    lengths = [0] * len(counts)
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1
        return lengths
    heap = [(c, s, None, None) for s, c in enumerate(counts) if c]
    heapq.heapify(heap)
    uid = len(counts)
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        heapq.heappush(heap, (a[0] + b[0], uid, a, b))
        uid += 1
    depths = {}

    def walk(node, d):
        if node[2] is None:
            depths[node[1]] = max(d, 1)
            return
        walk(node[2], d + 1)
        walk(node[3], d + 1)
    walk(heap[0], 0)
    if max(depths.values()) > max_len:
        # depth-limited fallback: flat ceil(log2 n) lengths, then
        # shorten greedily while the Kraft slack affords it — consumes
        # the slack EXACTLY (each first shortening costs 1 slack unit
        # and n > slack units, so a unit step is always available),
        # never over-subscribing
        flat = max(1, (len(used) - 1).bit_length())
        for s in used:
            lengths[s] = flat
        slack = (1 << max_len) - len(used) * (1 << (max_len - flat))
        for s in used:
            while lengths[s] > 1:
                cost = 1 << (max_len - lengths[s])
                if cost > slack:
                    break
                slack -= cost
                lengths[s] -= 1
        return lengths
    for s, d in depths.items():
        lengths[s] = d
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths: list[int]) -> None:
    """Encoder mirror of _read_prefix_code."""
    used = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)                             # simple
        bw.write(len(used) - 1, 1)
        if used[0] <= 1:
            bw.write(0, 1)                         # 1-bit first symbol
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)                                 # code-length coded
    # tokenize the length sequence: zero runs >= 3 ride the 17/18
    # repeat codes (chained for longer runs) — this is what keeps the
    # 280-symbol green alphabet cheap to both write AND decode
    tokens = []
    i = 0
    while i < len(lengths):
        if lengths[i] == 0:
            run = 1
            while i + run < len(lengths) and lengths[i + run] == 0:
                run += 1
            i += run
            while run:
                if run >= 11:
                    take = min(run, 138)
                    tokens.append((18, 7, take - 11))
                elif run >= 3:
                    take = run
                    tokens.append((17, 3, take - 3))
                else:
                    take = 1
                    tokens.append((0, 0, 0))
                run -= take
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    cl_hist = [0] * 19
    for sym, _, _ in tokens:
        cl_hist[sym] += 1
    cl_lengths = _huff_lengths(cl_hist, max_len=7)
    bw.write(15, 4)                                # 4 + 15 = all 19
    for sym in _CL_ORDER:
        bw.write(cl_lengths[sym], 3)
    cl_codes = _canonical_codes(cl_lengths)
    single_cl = sum(1 for ln in cl_lengths if ln) == 1
    bw.write(0, 1)                                 # no max-symbol bound
    for sym, nx, xv in tokens:
        if not single_cl:                          # 1-symbol code: 0 bits
            code, n = cl_codes[sym]
            bw.write(int(f"{code:0{n}b}"[::-1], 2), n)
        if nx:
            bw.write(xv, nx)


def _write_sym(bw: _BitWriter, codes: dict, sym: int, n_used: int) -> None:
    """Write one canonical-code symbol MSB-first (0 bits if the code
    has a single symbol)."""
    if n_used == 1:
        return
    code, n = codes[sym]
    # MSB-first: reverse the LSB-first writer's bit order
    for i in range(n - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _lz77_code(value: int) -> tuple[int, int, int]:
    """value -> (prefix code, n extra bits, extra value); inverse of
    _lz77_value."""
    if value <= 4:
        return value - 1, 0, 0
    code = 4
    while True:
        extra = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra
        if offset + 1 <= value <= offset + (1 << extra):
            return code, extra, value - offset - 1
        code += 1


def _write_image(bw: _BitWriter, argb: np.ndarray, xsize: int,
                 ysize: int, top_level: bool = False,
                 use_meta: bool = False, cache_bits: int = 0) -> None:
    """Encode a flat uint32 ARGB array as one spatially-coded image:
    single prefix group, greedy distance-1 LZ77 runs, histogram-derived
    canonical codes. ``use_meta`` writes a trivial 1-group meta image;
    ``cache_bits`` enables a real color cache (cache-hit symbols
    emitted whenever the hashed slot matches) — both exist to exercise
    the decoder's corresponding paths with genuine streams."""
    # Spec field order: color cache, THEN the top-level meta bit.
    if cache_bits:
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color cache bits")
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)                             # no color cache
    if top_level:
        if use_meta:
            bw.write(1, 1)                         # meta prefix present
            bw.write(7, 3)                         # meta_bits = 9 (512px)
            mx, my = -(-xsize // 512), -(-ysize // 512)
            # entropy image: every tile -> prefix group 0
            tiles = np.full(mx * my, 0xFF000000, np.uint32)
            _write_image(bw, tiles, mx, my)
        else:
            bw.write(0, 1)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    shift = 32 - cache_bits if cache_bits else 0

    # tokenize: cache hits, (length, dist=1) runs of >= 3, or literals
    # — mirroring the decoder's cache-update rule (literal and
    # backref-copied pixels insert; cache hits don't re-insert)
    tokens = []
    i, n = 0, len(argb)
    while i < n:
        run = 0
        if i:
            while (i + run < n and run < 4096
                   and argb[i + run] == argb[i - 1]):
                run += 1
        if run >= 3:
            tokens.append(("ref", run, 1))
            if cache_bits:
                for k in range(run):
                    px = int(argb[i + k])
                    cache[(px * _HASH_MUL & 0xFFFFFFFF) >> shift] = px
            i += run
            continue
        v = int(argb[i])
        slot = (v * _HASH_MUL & 0xFFFFFFFF) >> shift if cache_bits else 0
        if cache_bits and cache[slot] == v:
            tokens.append(("cache", slot))
        else:
            tokens.append(("lit", (v >> 24) & 0xFF, (v >> 16) & 0xFF,
                           (v >> 8) & 0xFF, v & 0xFF))
            if cache_bits:
                cache[slot] = v
        i += 1

    ghist = [0] * (_GREEN_BASE + _N_LENGTH + cache_size)
    rhist, bhist, ahist = [0] * 256, [0] * 256, [0] * 256
    dhist = [0] * _N_DIST
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            ghist[g] += 1
            rhist[r] += 1
            bhist[b] += 1
            ahist[a] += 1
        elif t[0] == "cache":
            ghist[_GREEN_BASE + _N_LENGTH + t[1]] += 1
        else:
            lcode, _, _ = _lz77_code(t[1])
            ghist[_GREEN_BASE + lcode] += 1
            dcode, _, _ = _lz77_code(2)            # dist 1 -> plane code 2
            dhist[dcode] += 1
    # every alphabet needs at least one symbol for a well-formed code
    for h in (rhist, bhist, ahist, dhist):
        if not any(h):
            h[0] = 1
    if not any(ghist):
        ghist[0] = 1

    glen = _huff_lengths(ghist)
    rlen = _huff_lengths(rhist)
    blen = _huff_lengths(bhist)
    alen = _huff_lengths(ahist)
    dlen = _huff_lengths(dhist)
    for lens in (glen, rlen, blen, alen, dlen):
        _write_prefix_code(bw, lens)
    gc = _canonical_codes(glen)
    rc = _canonical_codes(rlen)
    bc = _canonical_codes(blen)
    ac = _canonical_codes(alen)
    dc = _canonical_codes(dlen)
    gn = sum(1 for x in glen if x)
    rn = sum(1 for x in rlen if x)
    bn = sum(1 for x in blen if x)
    an = sum(1 for x in alen if x)
    dn = sum(1 for x in dlen if x)

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            _write_sym(bw, gc, g, gn)
            _write_sym(bw, rc, r, rn)
            _write_sym(bw, bc, b, bn)
            _write_sym(bw, ac, a, an)
        elif t[0] == "cache":
            _write_sym(bw, gc, _GREEN_BASE + _N_LENGTH + t[1], gn)
        else:
            lcode, le, lx = _lz77_code(t[1])
            _write_sym(bw, gc, _GREEN_BASE + lcode, gn)
            if le:
                bw.write(lx, le)
            dcode, de, dx = _lz77_code(2)          # plane code 2 = dist 1
            _write_sym(bw, dc, dcode, dn)
            if de:
                bw.write(dx, de)


def _avg2_vec(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _predict_vec(mode: int, L, T, TL, TR) -> np.ndarray:
    """Vectorized twin of _predict over packed int64 ARGB arrays."""
    if mode == 0:
        return np.full_like(L, 0xFF000000)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2_vec(_avg2_vec(L, TR), T)
    if mode == 6:
        return _avg2_vec(L, TL)
    if mode == 7:
        return _avg2_vec(L, T)
    if mode == 8:
        return _avg2_vec(TL, T)
    if mode == 9:
        return _avg2_vec(T, TR)
    if mode == 10:
        return _avg2_vec(_avg2_vec(L, TL), _avg2_vec(T, TR))
    if mode == 11:                               # Select
        pl = np.zeros(L.shape, np.int64)
        pt = np.zeros(L.shape, np.int64)
        for sh in (24, 16, 8, 0):
            lc = (L >> sh) & 0xFF
            tc = (T >> sh) & 0xFF
            est = lc + tc - ((TL >> sh) & 0xFF)
            pl += np.abs(est - lc)
            pt += np.abs(est - tc)
        return np.where(pl < pt, L, T)
    if mode == 12:                               # ClampAddSubtractFull
        out = np.zeros(L.shape, np.int64)
        for sh in (24, 16, 8, 0):
            v = (((L >> sh) & 0xFF) + ((T >> sh) & 0xFF)
                 - ((TL >> sh) & 0xFF))
            out |= np.clip(v, 0, 255) << sh
        return out
    if mode == 13:                               # ClampAddSubtractHalf
        ave = _avg2_vec(L, T)
        out = np.zeros(L.shape, np.int64)
        for sh in (24, 16, 8, 0):
            a = (ave >> sh) & 0xFF
            d = a - ((TL >> sh) & 0xFF)
            half = np.where(d >= 0, d // 2, -((-d) // 2))  # trunc, like C
            out |= np.clip(a + half, 0, 255) << sh
        return out
    raise ValueError(f"bad predictor mode {mode}")


def _forward_predictor(argb: np.ndarray, xsize: int, ysize: int,
                       mode: int, size_bits: int) -> np.ndarray:
    """Forward single-tile predictor transform: residual = pixel - pred
    per channel mod 256, with the decoder's exact edge rules. Fully
    vectorized — at ENCODE time every neighbor is an original pixel
    (the decoder reconstructs them exactly), so there is no scan-order
    dependency, unlike _inv_predictor."""
    grid = argb.reshape(ysize, xsize).astype(np.int64)
    L = np.zeros_like(grid)
    L[:, 1:] = grid[:, :-1]
    T = np.zeros_like(grid)
    T[1:, :] = grid[:-1, :]
    TL = np.zeros_like(grid)
    TL[1:, 1:] = grid[:-1, :-1]
    TR = np.zeros_like(grid)
    TR[1:, :-1] = grid[:-1, 1:]
    if ysize > 1:
        TR[1:, -1] = grid[1:, 0]                 # flat-buffer wrap rule
    pred = _predict_vec(mode, L, T, TL, TR)
    if xsize > 1:
        pred[0, 1:] = L[0, 1:]                   # row 0: forced L
    if ysize > 1:
        pred[1:, 0] = T[1:, 0]                   # col 0: forced T
    pred[0, 0] = 0xFF000000
    out = np.zeros_like(grid)
    for sh in (24, 16, 8, 0):
        out |= ((((grid >> sh) & 0xFF) - ((pred >> sh) & 0xFF))
                & 0xFF) << sh
    return out.astype(np.uint32).reshape(-1)


def build_vp8l(pixels: np.ndarray, alpha: np.ndarray | None = None,
               transform: str = "none", predictor_mode: int = 2,
               use_meta: bool = False, cache_bits: int = 0,
               color_elem: tuple[int, int, int] = (16, 8, 4)) -> bytes:
    """Assemble one VP8L chunk payload from (h, w, 3) RGB (optional
    (h, w) alpha). ``transform``: none | sub_green | predictor |
    color | palette; ``color_elem`` = (green_to_red, green_to_blue,
    red_to_blue) signed 3.5 fixed-point bytes for the single-tile
    color transform. Deterministic bytes — the gate/test producer."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("build_vp8l expects (h, w, 3) RGB")
    h, w = px.shape[:2]
    if w > 16384 or h > 16384:
        raise ValueError("image exceeds VP8L 16384 limit")
    a = (np.full((h, w), 255, np.uint8) if alpha is None
         else np.asarray(alpha, dtype=np.uint8))
    argb = ((a.astype(np.uint32) << 24)
            | (px[:, :, 0].astype(np.uint32) << 16)
            | (px[:, :, 1].astype(np.uint32) << 8)
            | px[:, :, 2].astype(np.uint32)).reshape(-1)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if alpha is not None else 0, 1)     # alpha hint
    bw.write(0, 3)                                 # version

    xsize = w
    if transform == "sub_green":
        bw.write(1, 1)
        bw.write(2, 2)
        g = (argb >> 8) & 0xFF
        r = ((argb >> 16) - g) & 0xFF
        b = (argb - g) & 0xFF
        argb = (argb & 0xFF00FF00) | (r << 16) | b
    elif transform == "predictor":
        if not 0 <= predictor_mode <= 13:
            raise ValueError("bad predictor mode")
        size_bits = 9                              # one 512px tile
        if w > 512 or h > 512:
            raise ValueError("single-tile predictor needs <=512px")
        bw.write(1, 1)
        bw.write(0, 2)
        bw.write(size_bits - 2, 3)
        tile = np.array([0xFF000000 | (predictor_mode << 8)], np.uint32)
        _write_image(bw, tile, 1, 1)
        argb = _forward_predictor(argb, w, h, predictor_mode, size_bits)
    elif transform == "color":
        size_bits = 9                              # one 512px tile
        if w > 512 or h > 512:
            raise ValueError("single-tile color transform needs <=512px")
        g2r, g2b, r2b = (v & 0xFF for v in color_elem)
        bw.write(1, 1)
        bw.write(1, 2)
        bw.write(size_bits - 2, 3)
        tile = np.array([0xFF000000 | (r2b << 16) | (g2b << 8) | g2r],
                        np.uint32)
        _write_image(bw, tile, 1, 1)
        # forward transform: subtract the deltas the decoder re-adds
        # (red first from green; blue from green AND the FINAL red)
        out = argb.copy()
        for pos in range(len(out)):
            v = int(out[pos])
            g = (v >> 8) & 0xFF
            r = (v >> 16) & 0xFF
            b = v & 0xFF
            sr = (r - _ct_delta(g2r, g)) & 0xFF
            sb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
            out[pos] = (v & 0xFF00FF00) | (sr << 16) | sb
        argb = out
    elif transform == "palette":
        colors = list(dict.fromkeys(int(v) for v in argb))
        if len(colors) > 256:
            raise ValueError("palette transform needs <=256 colors")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = np.zeros(len(colors), np.uint32)
        prev = 0
        for i, c in enumerate(colors):
            d = 0
            for sh in (24, 16, 8, 0):
                d |= ((((c >> sh) & 0xFF) - ((prev >> sh) & 0xFF))
                      & 0xFF) << sh
            deltas[i] = d
            prev = c
        _write_image(bw, deltas, len(colors), 1)
        lut = {c: i for i, c in enumerate(colors)}
        idx = np.array([lut[int(v)] for v in argb], np.uint32)
        wb = _bundle_width_bits(len(colors))
        if wb:
            per = 1 << wb
            bpp = 8 >> wb
            packed_x = -(-w // per)
            grid = idx.reshape(h, w)
            packed = np.zeros((h, packed_x), np.uint32)
            for x in range(w):
                packed[:, x // per] |= grid[:, x] << ((x % per) * bpp)
            argb = (0xFF000000 | (packed << 8)).reshape(-1)
            xsize = packed_x
        else:
            argb = 0xFF000000 | (idx << 8)
    elif transform != "none":
        raise ValueError(f"unknown transform {transform!r}")
    bw.write(0, 1)                                 # end of transforms

    _write_image(bw, argb, xsize, h, top_level=True, use_meta=use_meta,
                 cache_bits=cache_bits)
    return bw.bytes()


def build_webp(pixels: np.ndarray, alpha: np.ndarray | None = None,
               transform: str = "none", predictor_mode: int = 2,
               use_meta: bool = False, cache_bits: int = 0) -> bytes:
    """Wrap build_vp8l in the RIFF/WEBP container."""
    payload = build_vp8l(pixels, alpha, transform, predictor_mode,
                         use_meta, cache_bits)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def build_webp_anim(frames, canvas_w: int, canvas_h: int,
                    background=(0, 0, 0, 0), loop: int = 0) -> bytes:
    """Assemble an ANIMATED WebP (VP8X + ANIM + ANMF chunks) from
    lossless frames — the test/gate producer for _parse_anim.  Each
    frame is a dict: rgb (h,w,3), optional alpha (h,w), x, y (even),
    duration_ms, no_blend, dispose.  Frames are encoded with
    build_vp8l, so decode round-trips exactly and the compositing
    math is checkable against an independent reference."""
    body = bytearray()
    has_alpha = any(f.get("alpha") is not None for f in frames)
    vp8x = bytes([(0x10 if has_alpha else 0) | 0x02]) + b"\x00" * 3 \
        + (canvas_w - 1).to_bytes(3, "little") \
        + (canvas_h - 1).to_bytes(3, "little")
    body += b"VP8X" + struct.pack("<I", 10) + vp8x
    r, g, b, a = background
    anim = bytes([b, g, r, a]) + loop.to_bytes(2, "little")
    body += b"ANIM" + struct.pack("<I", 6) + anim
    for f in frames:
        rgb = f["rgb"]
        h, w = rgb.shape[:2]
        x, y = f.get("x", 0), f.get("y", 0)
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets must be even")
        payload = build_vp8l(rgb, f.get("alpha"))
        sub = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            sub += b"\x00"
        hdr = (x // 2).to_bytes(3, "little") \
            + (y // 2).to_bytes(3, "little") \
            + (w - 1).to_bytes(3, "little") \
            + (h - 1).to_bytes(3, "little") \
            + int(f.get("duration_ms", 40)).to_bytes(3, "little") \
            + bytes([(0x02 if f.get("no_blend") else 0)
                     | (0x01 if f.get("dispose") else 0)])
        anmf = hdr + sub
        body += b"ANMF" + struct.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + bytes(body)
