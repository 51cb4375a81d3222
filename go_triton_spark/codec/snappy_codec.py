"""Pure-Python snappy: block format + framing format.

The reference's archives are the snappy *framing* format
(golang/snappy NewWriter, triton/store.go:134): a stream-identifier
chunk followed by compressed/uncompressed data chunks, each carrying a
masked CRC32C of the uncompressed payload. Because each 1 MiB buffer
flush creates a NEW writer over the same file (triton/store.go:134),
a .tri file is a concatenation of framing streams; the decoder below
accepts repeated stream-identifier chunks transparently, exactly like
the golang/snappy reader.

- ``frame_decompress`` fully decodes both compressed (block-format) and
  uncompressed chunks, with CRC verification.
- ``frame_compress`` emits valid framing output. Payloads are stored as
  snappy *literal-only* blocks (legal per the spec: any block may consist
  solely of literals) — correctness-compatible with every snappy reader;
  compression ratio is delegated to Parquet on the canonical path.
- ``snappy_block_decompress`` implements the full block format
  (varint preamble, literal + copy1/2/4 tags with back-references).
"""

from __future__ import annotations

import struct

_STREAM_IDENT_BODY = b"sNaPpY"
_CHUNK_COMPRESSED = 0x00
_CHUNK_UNCOMPRESSED = 0x01
_CHUNK_PADDING = 0xFE
_CHUNK_STREAM_IDENT = 0xFF
_MAX_CHUNK_UNCOMPRESSED = 65536


class SnappyError(ValueError):
    """Raised on malformed snappy input."""


# ------------------------------------------------------------------ crc32c

def _make_crc32c_table() -> list[int]:
    poly = 0x82F63B78  # reflected Castagnoli
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        table.append(crc)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """Snappy framing checksum mask (same rotation golang/snappy uses).

    The CRC runs through the compiled slice-by-8 shim (codec/
    native.py) when it loads — measured ~99% of .tri frame-decompress
    wall was the per-byte Python loop. Bit-identical (same polynomial;
    pinned by tests/test_native_fastpath.py); hosts without the shim
    use crc32c here."""
    from go_triton_spark.codec import native as _native
    c = _native.crc32c_native(data)
    if c is None:
        c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------------ block format

def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise SnappyError("truncated varint preamble")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise SnappyError("varint too long")


def snappy_block_decompress(buf: bytes) -> bytes:
    """Decode one snappy block-format buffer (full tag support)."""
    total, pos = _uvarint(buf, 0)
    out = bytearray()
    n = len(buf)
    while pos < n:
        tag = buf[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:
                extra = length - 59  # 1..4 length bytes, little-endian
                if pos + extra > n:
                    raise SnappyError("truncated literal length")
                length = int.from_bytes(buf[pos:pos + extra], "little")
                pos += extra
            length += 1
            if pos + length > n:
                raise SnappyError("truncated literal body")
            out += buf[pos:pos + length]
            pos += length
            continue
        if kind == 1:  # copy, 1-byte offset
            length = ((tag >> 2) & 0x07) + 4
            if pos >= n:
                raise SnappyError("truncated copy1")
            offset = ((tag >> 5) << 8) | buf[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            length = (tag >> 2) + 1
            if pos + 2 > n:
                raise SnappyError("truncated copy2")
            offset = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
        else:  # copy, 4-byte offset
            length = (tag >> 2) + 1
            if pos + 4 > n:
                raise SnappyError("truncated copy4")
            offset = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        if offset == 0 or offset > len(out):
            raise SnappyError(f"bad copy offset {offset} at output size {len(out)}")
        # Overlapping copies are legal (RLE): copy byte-by-byte when needed.
        start = len(out) - offset
        if offset >= length:
            out += out[start:start + length]
        else:
            for i in range(length):
                out.append(out[start + i])
    if len(out) != total:
        raise SnappyError(f"decompressed size {len(out)} != preamble {total}")
    return bytes(out)


def snappy_block_compress(data: bytes) -> bytes:
    """Encode a valid snappy block as literal runs (no back-references)."""
    out = bytearray()
    # preamble: uvarint of uncompressed length
    n = len(data)
    v = n
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    pos = 0
    while pos < n:
        chunk = data[pos:pos + 0x10000]  # literal length fits in 2 bytes
        length = len(chunk)
        if length <= 60:
            out.append((length - 1) << 2)
        elif length <= 0x100:
            out.append(60 << 2)
            out.append(length - 1)
        else:
            out.append(61 << 2)
            out += struct.pack("<H", length - 1)
        out += chunk
        pos += length
    return bytes(out)


# ---------------------------------------------------------- framing format

def frame_compress(data: bytes, with_ident: bool = True) -> bytes:
    """Encode data as a snappy framing stream (<=64 KiB chunks)."""
    out = bytearray()
    if with_ident:
        out += bytes((_CHUNK_STREAM_IDENT, 6, 0, 0)) + _STREAM_IDENT_BODY
    pos = 0
    n = len(data)
    if n == 0:
        return bytes(out)
    while pos < n:
        chunk = data[pos:pos + _MAX_CHUNK_UNCOMPRESSED]
        pos += len(chunk)
        body = snappy_block_compress(chunk)
        crc = masked_crc32c(chunk)
        if len(body) < len(chunk):
            ctype, payload = _CHUNK_COMPRESSED, body
        else:
            ctype, payload = _CHUNK_UNCOMPRESSED, chunk
        length = len(payload) + 4
        out.append(ctype)
        out += length.to_bytes(3, "little")
        out += struct.pack("<I", crc)
        out += payload
    return bytes(out)


def frame_decompress(buf: bytes, verify_crc: bool = True) -> bytes:
    """Decode a (possibly concatenated) snappy framing stream.

    Handles repeated stream-identifier chunks (the reference writes one
    per 1 MiB flush over the same file, triton/store.go:134) and skips
    padding/reserved-skippable chunks, like golang/snappy's Reader.
    """
    out = bytearray()
    pos = 0
    n = len(buf)
    while pos < n:
        if pos + 4 > n:
            raise SnappyError("truncated chunk header")
        ctype = buf[pos]
        length = int.from_bytes(buf[pos + 1:pos + 4], "little")
        pos += 4
        if pos + length > n:
            raise SnappyError("truncated chunk body")
        body = buf[pos:pos + length]
        pos += length
        if ctype == _CHUNK_STREAM_IDENT:
            if body != _STREAM_IDENT_BODY:
                raise SnappyError("bad stream identifier")
            continue
        if ctype == _CHUNK_PADDING or 0x80 <= ctype <= 0xFD:
            continue  # skippable
        if ctype == _CHUNK_COMPRESSED:
            if length < 4:
                raise SnappyError("compressed chunk too short")
            crc = struct.unpack_from("<I", body)[0]
            data = snappy_block_decompress(body[4:])
        elif ctype == _CHUNK_UNCOMPRESSED:
            if length < 4:
                raise SnappyError("uncompressed chunk too short")
            crc = struct.unpack_from("<I", body)[0]
            data = body[4:]
        else:
            raise SnappyError(f"unskippable unknown chunk type 0x{ctype:02x}")
        if verify_crc and masked_crc32c(data) != crc:
            raise SnappyError("chunk checksum mismatch")
        out += data
    return bytes(out)
