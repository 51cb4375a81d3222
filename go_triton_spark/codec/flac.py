"""Real-bytes FLAC (xiph free lossless audio codec) decode — the
compressed-AUDIO leg of the real-decoder story, round 7. With PNG
(DEFLATE), JPEG (Huffman+DCT), GIF (LZW), and now FLAC (Rice-coded
linear prediction), every entropy-coding family the engine's media
columns carry decodes with a production parser; WAV covered raw PCM
in round 5.

Pure stdlib + numpy from the public specification (xiph.org/flac):
"fLaC" magic, STREAMINFO (+ skipped metadata blocks), frame headers
with UTF-8-coded frame numbers and CRC-8, subframe types CONSTANT /
VERBATIM / FIXED (orders 0-4) / LPC (any order, signed quantized
coefficients + shift), Rice residual partitions (4- and 5-bit
parameters, escape-to-raw), wasted-bits, stereo decorrelation
(left/side, right/side, mid/side), and the frame-trailing CRC-16 —
which is what makes the corrupt-skip gate strong: ONE flipped payload
byte is caught by the checksum, not by a length heuristic (same
integrity posture as PNG's per-chunk CRC-32).

The encoder synthesizes REAL streams for the gate corpus and tests
(like build_png / build_jpeg / build_gif): FIXED order-0/1/2 and
verbatim/constant subframes, true Rice coding with a chosen parameter,
one frame per stream, mid/side for stereo — enough to exercise every
decoder path including LPC (emitted as an explicit LPC subframe whose
coefficients replicate the fixed-order predictor, a legal stream no
FLAC tool would emit, which is the point: the decoder must follow the
coefficients, not guess the predictor).
"""

from __future__ import annotations

import struct

import numpy as np

from go_triton_spark.codec import native as _native

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_table() -> list:
    out = []
    for i in range(256):
        crc = i << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
        out.append(crc)
    return out


_CRC16_TABLE = _crc16_table()


def _crc16(data: bytes) -> int:
    # table-driven (8x fewer Python ops than bit-at-a-time — this runs
    # over EVERY frame byte); the compiled shim takes large buffers
    if len(data) > 4096:
        v = _native.crc16_8005_native(data)
        if v is not None:
            return v
    crc = 0
    tab = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ tab[(crc >> 8) ^ b]
    return crc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bits(self, length: int) -> int:
        while self.n < length:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def sbits(self, length: int) -> int:
        v = self.bits(length)
        return v - (1 << length) if v >= (1 << (length - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway unary code in FLAC residual")
        return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0


def _rice_read(br: _BitReader, param: int) -> int:
    q = br.unary()
    v = (q << param) | br.bits(param) if param else q
    return (v >> 1) ^ -(v & 1)


def _rice_write(bw: _BitWriter, value: int, param: int) -> None:
    v = (value << 1) ^ (value >> 63) if value >= 0 else ((-value << 1) - 1)
    bw.unary(v >> param)
    if param:
        bw.write(v & ((1 << param) - 1), param)


def _utf8_number(bw: _BitWriter, n: int) -> None:
    # FLAC frame numbers use UTF-8-style coding; frame 0 is one byte
    if n < 0x80:
        bw.write(n, 8)
    else:
        raise ValueError("encoder emits single-frame streams only")


def _read_utf8_number(br: _BitReader) -> int:
    b0 = br.bits(8)
    if b0 < 0x80:
        return b0
    ones = 0
    while b0 & (0x80 >> ones):
        ones += 1
    if ones < 2 or ones > 7:
        raise ValueError("bad UTF-8-coded frame number")
    v = b0 & (0x7F >> ones)
    for _ in range(ones - 1):
        c = br.bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad UTF-8-coded frame number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


# --- encoder ----------------------------------------------------------

def build_flac(samples, sample_rate: int = 8000, bps: int = 16,
               subframe: str = "fixed2", stereo_mode: str = "mid_side",
               rice_param: int | None = None) -> bytes:
    """Assemble a single-frame FLAC stream from an (n,) mono or (n, 2)
    stereo int array. ``subframe``: constant | verbatim | fixed0 |
    fixed1 | fixed2 | lpc2 (an LPC subframe carrying the fixed-order-2
    coefficients). Deterministic bytes — the gate/test producer."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if n < 3 or nch not in (1, 2):
        raise ValueError("build_flac needs >=3 samples, 1-2 channels")
    lim = 1 << (bps - 1)
    if int(arr.max()) >= lim or int(arr.min()) < -lim:
        raise ValueError(f"samples exceed {bps}-bit range")

    # stereo decorrelation
    if nch == 2 and stereo_mode == "mid_side":
        left, right = arr[:, 0], arr[:, 1]
        chans = [(left + right) >> 1, left - right]
        ch_assign = 10
        ch_bps = [bps, bps + 1]
    else:
        chans = [arr[:, c] for c in range(nch)]
        ch_assign = nch - 1
        ch_bps = [bps] * nch

    bw = _BitWriter()
    # frame header
    hdr = _BitWriter()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 1)            # reserved
    hdr.write(0, 1)            # fixed blocksize strategy
    hdr.write(0b0111, 4)       # blocksize: 16-bit at end of header
    hdr.write(0b0000, 4)       # sample rate: from STREAMINFO
    hdr.write(ch_assign, 4)
    hdr.write({8: 0b001, 12: 0b010, 16: 0b100,
               20: 0b101, 24: 0b110}[bps], 3)
    hdr.write(0, 1)            # reserved
    _utf8_number(hdr, 0)
    hdr.write(n - 1, 16)
    hdr.align()
    hdr_bytes = bytes(hdr.out)
    frame = bytearray(hdr_bytes)
    frame.append(_crc8(hdr_bytes))

    body = _BitWriter()
    for ci, ch in enumerate(chans):
        sbps = ch_bps[ci]
        body.write(0, 1)                       # padding bit
        if subframe == "constant" and (ch == ch[0]).all():
            body.write(0b000000, 6)
            body.write(0, 1)                   # no wasted bits
            body.write(int(ch[0]) & ((1 << sbps) - 1), sbps)
            continue
        if subframe == "verbatim":
            body.write(0b000001, 6)
            body.write(0, 1)
            for s in ch:
                body.write(int(s) & ((1 << sbps) - 1), sbps)
            continue
        order = {"fixed0": 0, "fixed1": 1, "fixed2": 2,
                 "lpc2": 2}.get(subframe)
        if order is None:
            raise ValueError(f"unknown subframe kind {subframe!r}")
        coefs = _FIXED_COEFS[order]
        if subframe == "lpc2":
            body.write(0b100000 | (order - 1), 6)   # LPC, order-1 coded
        else:
            body.write(0b001000 | order, 6)
        body.write(0, 1)
        for s in ch[:order]:                   # warmup
            body.write(int(s) & ((1 << sbps) - 1), sbps)
        if subframe == "lpc2":
            body.write(15 - 1, 4)              # precision 15 bits
            body.write(0, 5)                   # shift 0
            for c in coefs:
                body.write(int(c) & 0x7FFF, 15)
        resid = list(ch[order:])
        for i, s in enumerate(ch[order:], start=order):
            pred = sum(c * int(ch[i - 1 - j]) for j, c in enumerate(coefs))
            resid[i - order] = int(s) - pred
        if rice_param is None:
            mean = max(1, int(np.abs(np.asarray(resid)).mean()) if resid
                       else 1)
            param = min(14, max(0, mean.bit_length()))
        else:
            param = rice_param
        body.write(0b00, 2)                    # rice (4-bit params)
        body.write(0, 4)                       # partition order 0
        body.write(param, 4)
        for r in resid:
            _rice_write(body, int(r), param)
    body.align()
    frame += bytes(body.out)
    frame += struct.pack(">H", _crc16(bytes(frame)))

    # STREAMINFO
    si = _BitWriter()
    si.write(n, 16)            # min blocksize
    si.write(n, 16)            # max blocksize
    si.write(0, 24)            # min frame size unknown
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(nch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    si_bytes = bytes(si.out) + b"\x00" * 16     # md5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(si_bytes).to_bytes(3, "big") + si_bytes
    out += frame
    return bytes(out)


# --- decoder ----------------------------------------------------------

def parse_flac(data: bytes) -> dict:
    """Decode one complete FLAC stream; return samples + metadata.

    Returns dict with: sample_rate, n_channels, bits_per_sample,
    n_samples, and ``samples`` — an (n, channels) int32 array. Fails
    loudly (ValueError) on truncation, CRC-8/CRC-16 mismatches, bad
    subframe types, or residual overruns — the corrupt-skip contract.
    """
    if len(data) < 42 or data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated metadata block header")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(data[pos + 1:pos + 4], "big")
        pos += 4
        if pos + blen > len(data):
            raise ValueError("truncated metadata block")
        if btype == 0:
            if blen < 34:
                raise ValueError("STREAMINFO too short")
            br = _BitReader(data[pos:pos + 34])
            br.bits(16)
            br.bits(16)
            br.bits(24)
            br.bits(24)
            sample_rate = br.bits(20)
            nch = br.bits(3) + 1
            bps = br.bits(5) + 1
            total = br.bits(36)
            streaminfo = (sample_rate, nch, bps, total)
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    sample_rate, nch, bps, total = streaminfo

    chans_all: list[list[np.ndarray]] = [[] for _ in range(nch)]
    decoded = 0
    # STREAMINFO total-samples == 0 means UNKNOWN (spec), not empty:
    # decode frames until the input is exhausted instead of silently
    # returning zero samples (round-7 advisory).
    unknown_total = total == 0
    while (pos < len(data)) if unknown_total else (decoded < total):
        frame_start = pos
        br = _BitReader(data, pos)
        sync = br.bits(14)
        if sync != 0b11111111111110:
            raise ValueError(f"bad frame sync 0x{sync:04X}")
        if br.bits(1):
            raise ValueError("reserved frame-header bit set")
        br.bits(1)                                # blocking strategy
        bs_code = br.bits(4)
        sr_code = br.bits(4)
        ch_assign = br.bits(4)
        ss_code = br.bits(3)
        if br.bits(1):
            raise ValueError("reserved frame-header bit set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("reserved blocksize code 0")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.bits(8) + 1
        elif bs_code == 7:
            blocksize = br.bits(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            br.bits(8)
        elif sr_code in (13, 14):
            br.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid sample-rate code 15")
        ss_map = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
        if ss_code not in ss_map:
            raise ValueError(f"reserved sample-size code {ss_code}")
        fbps = ss_map[ss_code]
        hdr_len = br.pos - frame_start
        if _crc8(data[frame_start:frame_start + hdr_len]) != br.bits(8):
            raise ValueError("frame header CRC-8 mismatch")

        if ch_assign <= 7:
            n_sub = ch_assign + 1
            sub_bps = [fbps] * n_sub
        elif ch_assign in (8, 9, 10):
            n_sub = 2
            # the SIDE channel carries one extra bit
            sub_bps = {8: [fbps, fbps + 1], 9: [fbps + 1, fbps],
                       10: [fbps, fbps + 1]}[ch_assign]
        else:
            raise ValueError(f"reserved channel assignment {ch_assign}")
        if n_sub != nch:
            raise ValueError("frame channel count != STREAMINFO")

        subs = []
        for ci in range(n_sub):
            if br.bits(1):
                raise ValueError("subframe padding bit set")
            stype = br.bits(6)
            wasted = 0
            if br.bits(1):
                wasted = 1 + br.unary()
            sbps = sub_bps[ci] - wasted
            if stype == 0:                         # CONSTANT
                v = br.sbits(sbps)
                ch = np.full(blocksize, v, dtype=np.int64)
            elif stype == 1:                       # VERBATIM
                ch = np.array([br.sbits(sbps) for _ in range(blocksize)],
                              dtype=np.int64)
            elif 8 <= stype <= 12:                 # FIXED
                order = stype - 8
                ch = _predicted(br, blocksize, sbps, order,
                                _FIXED_COEFS[order], 0)
            elif stype >= 32:                      # LPC
                order = (stype & 0x1F) + 1
                warm = [br.sbits(sbps) for _ in range(order)]
                prec = br.bits(4) + 1
                if prec == 16:
                    raise ValueError("invalid LPC precision code 1111")
                shift = br.sbits(5)
                if shift < 0:
                    raise ValueError("negative LPC shift")
                coefs = [br.sbits(prec) for _ in range(order)]
                ch = _predicted(br, blocksize, sbps, order, coefs,
                                shift, warm)
            else:
                raise ValueError(f"reserved subframe type {stype}")
            if wasted:
                ch = ch << wasted
            subs.append(ch)
        br.align()
        crc_calc = _crc16(data[frame_start:br.pos])
        crc_read = br.bits(16)
        if crc_calc != crc_read:
            raise ValueError("frame CRC-16 mismatch")
        pos = br.pos

        if ch_assign == 8:                          # left/side
            left, side = subs
            subs = [left, left - side]
        elif ch_assign == 9:                        # right/side
            side, right = subs
            subs = [right + side, right]
        elif ch_assign == 10:                       # mid/side
            mid, side = subs
            m = (mid << 1) | (side & 1)
            subs = [(m + side) >> 1, (m - side) >> 1]
        take = blocksize if unknown_total else min(blocksize, total - decoded)
        for ci in range(nch):
            chans_all[ci].append(
                np.asarray(subs[ci][:take], dtype=np.int64))
        decoded += take

    samples = np.stack(
        [np.concatenate(c) if c else np.empty(0, np.int64)
         for c in chans_all]).T if nch else np.empty((0, 0), np.int64)
    lim = 1 << (bps - 1)
    if samples.size and (samples.max() >= lim or samples.min() < -lim):
        raise ValueError("decoded samples exceed declared bit depth")
    return {
        "sample_rate": int(sample_rate),
        "n_channels": int(nch),
        "bits_per_sample": int(bps),
        "n_samples": int(decoded if unknown_total else total),
        "samples": samples.astype(np.int32),
    }


def _predicted(br: _BitReader, blocksize: int, sbps: int, order: int,
               coefs, shift: int, warm=None) -> np.ndarray:
    if warm is None:
        warm = [br.sbits(sbps) for _ in range(order)]
    # Native fast path (r11, same contract as the image legs): the
    # Rice + predictor loops run in the compiled shim, bit-identical
    # by transcription; shim absent or ANY deviation returns None and
    # the pure loop below re-decodes from the same bit position and
    # raises its typed error — the shim never changes accept/reject.
    got = _native.flac_predicted_native(
        br.data, br.pos * 8 - br.n, blocksize, order, coefs, shift, warm)
    if got is not None:
        out, newbit = got
        br.pos = (newbit + 7) // 8
        br.n = br.pos * 8 - newbit
        br.acc = (br.data[br.pos - 1] & ((1 << br.n) - 1)
                  if br.n else 0)
        return out
    method = br.bits(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    if blocksize % nparts or (blocksize >> porder) <= order and porder:
        raise ValueError("invalid Rice partition order")
    resid: list[int] = []
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("negative partition sample count")
        param = br.bits(pbits)
        if param == escape:
            raw = br.bits(5)
            for _ in range(count):
                resid.append(br.sbits(raw) if raw else 0)
        else:
            for _ in range(count):
                resid.append(_rice_read(br, param))
    ch = list(warm)
    for r in resid:
        pred = sum(c * ch[-1 - j] for j, c in enumerate(coefs))
        ch.append(r + (pred >> shift if shift else pred))
    if len(ch) != blocksize:
        raise ValueError("subframe sample-count drift")
    return np.array(ch, dtype=np.int64)
