"""Snappy framing format over pyarrow's libsnappy.

The reference's archives are the snappy *framing* format
(golang/snappy NewWriter, triton/store.go:134): a stream-identifier
chunk followed by compressed/uncompressed data chunks, each carrying a
masked CRC32C of the uncompressed payload. Because each 1 MiB buffer
flush creates a NEW writer over the same file (triton/store.go:134),
a .tri file is a concatenation of framing streams; the decoder below
accepts repeated stream-identifier chunks transparently, exactly like
the golang/snappy reader.

- ``frame_decompress`` decodes compressed and uncompressed chunks,
  with CRC verification; a compressed chunk's block goes through
  ``pa.Codec("snappy")``, sized by the block's varint preamble.
- ``frame_compress`` compresses each <=64 KiB chunk with libsnappy
  and stores it uncompressed when that does not shrink it, as
  golang/snappy's writer does.

The framing, the masked CRC32C (compiled shim, pure ``crc32c``
fallback) and the mapping of libsnappy's decode errors to
``SnappyError`` live here.
"""

from __future__ import annotations

import struct

import pyarrow as pa

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

_SNAPPY = pa.Codec("snappy")


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


def _block_decompress(block: bytes) -> bytes:
    """Decode one snappy block with libsnappy. The block's varint
    preamble gives the decompressed size, which the framing format
    caps at 64 KiB per chunk."""
    size, _ = _uvarint(block, 0)
    if size > _MAX_CHUNK_UNCOMPRESSED:
        raise SnappyError(f"block preamble {size} exceeds the 64 KiB chunk")
    try:
        return _SNAPPY.decompress(block, decompressed_size=size,
                                  asbytes=True)
    except (OSError, ValueError) as exc:   # pa.ArrowInvalid: ValueError
        raise SnappyError(f"corrupt snappy block: {exc}") from exc


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
        body = _SNAPPY.compress(chunk, asbytes=True)
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
            data = _block_decompress(body[4:])
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
