"""IMA ADPCM (DVI4 / WAV format tag 0x11) — adaptive differential PCM.

The public IMA/DVI algorithm (also IETF RFC 3551 DVI4): 4-bit codes,
an 89-entry step-size table, and a per-sample feedback loop — step
index adapts by the magnitude of each code, the predictor accumulates
sign-applied fractional steps. This is the engine's sixth distinct
coding family (after DEFLATE, Huffman+DCT, LZW, Rice+LPC, and
prefix-code+LZ77): prediction with an ADAPTIVE quantizer, where the
decode is a stateful integer machine rather than a static table.

WAV layout (tag 0x11, mono): the data chunk is a sequence of
independent blocks of ``block_align`` bytes; each opens with a 4-byte
state header (int16 predictor, uint8 step index, reserved byte) whose
predictor IS the block's first output sample, followed by packed
nibbles (low nibble first), one sample each.

The state machine is small enough to restate as a recursive CTE,
which is what the mm_adpcm_decode oracle does — an INDEPENDENT SQL
re-implementation, not a golden.
"""

from __future__ import annotations

import struct

import numpy as np

from go_triton_spark.codec import native as _native

# ITU/IMA step-size table (89 entries, public spec)
STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]


def decode_ima(nibbles, predictor: int, index: int) -> np.ndarray:
    """Decode a nibble sequence from an initial (predictor, index)
    state. Returns int64 samples, one per nibble — the block header
    sample is NOT included (callers prepend it)."""
    # Native fast path (r11): the compiled shim runs the identical
    # state machine; None (shim absent / bad index) falls through to
    # the pure loop, which owns the loud rejection.
    got = _native.ima_decode_native(nibbles, predictor, index)
    if got is not None:
        return got
    out = np.empty(len(nibbles), dtype=np.int64)
    pred = int(predictor)
    idx = int(index)
    for j, n in enumerate(nibbles):
        n = int(n)
        step = STEP_TABLE[idx]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + INDEX_ADJUST[n & 7]))
        out[j] = pred
    return out


def decode_ima_blocks(data: bytes, block_align: int) -> np.ndarray:
    """Decode a mono IMA-WAV data chunk (concatenated blocks)."""
    if block_align < 5:
        raise ValueError("IMA block_align must be >= 5")
    if len(data) % block_align:
        raise ValueError("IMA data chunk is not whole blocks")
    chunks = []
    for off in range(0, len(data), block_align):
        block = data[off:off + block_align]
        predictor, index, reserved = struct.unpack_from("<hBB", block, 0)
        if index > 88:
            raise ValueError(f"IMA step index {index} out of range")
        packed = np.frombuffer(block, dtype=np.uint8, offset=4)
        nibbles = np.empty(2 * len(packed), dtype=np.uint8)
        nibbles[0::2] = packed & 0x0F   # low nibble first (spec order)
        nibbles[1::2] = packed >> 4
        chunks.append(np.concatenate([[predictor],
                                      decode_ima(nibbles, predictor,
                                                 index)]))
    return np.concatenate(chunks) if chunks else np.empty(0, np.int64)


def build_ima_wav(nibbles, predictor: int, index: int,
                  sample_rate: int = 8000) -> bytes:
    """Assemble a single-block mono IMA-WAV file carrying the given
    4-bit codes from the given initial state. len(nibbles) must be
    even (they pack two per byte); samples produced = 1 + len(nibbles).
    """
    nibbles = np.asarray(nibbles, dtype=np.uint8)
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even")
    packed = (nibbles[0::2] & 0x0F) | (nibbles[1::2] << 4)
    block = struct.pack("<hBB", predictor, index, 0) + packed.tobytes()
    block_align = len(block)
    samples_per_block = 1 + len(nibbles)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                      sample_rate * block_align // samples_per_block,
                      block_align, 4, 2, samples_per_block)
    fact = struct.pack("<I", samples_per_block)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(block)) + block)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def encode_ima(samples, index: int = 0) -> tuple[bytes, int, int]:
    """Reference IMA encoder (for round-trip tests): quantize each
    delta against the adaptive step. Returns (nibble bytes unpacked —
    one nibble per byte, initial predictor, initial index). Lossy by
    design; decode tracks input within ~1.5 steps."""
    samples = np.asarray(samples, dtype=np.int64)
    pred = int(samples[0])
    idx = int(index)
    nibbles = bytearray()
    for s in samples[1:]:
        step = STEP_TABLE[idx]
        delta = int(s) - pred
        n = 8 if delta < 0 else 0
        delta = abs(delta)
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        # decoder-mirrored state update
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + INDEX_ADJUST[n & 7]))
        nibbles.append(n)
    return bytes(nibbles), int(samples[0]), int(index)
