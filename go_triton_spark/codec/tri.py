"""The .tri archive format: snappy framing stream of concatenated msgpack maps.

Byte-format compatibility layer for the reference's archives:
- body codec: triton/archive_reader.go:12-28 (snappy.NewReader +
  msgp.ReadMapStrIntf until EOF)
- key grammar: triton/archive.go:45-68 — regex
  ``(\\d{8})/(.+)-(\\d+)\\.tri$`` then the stream part must split on "-"
  into exactly (stream, client); client names cannot contain "-"
  (triton.go:224-227)
- writer: triton/store.go:97-142 (1 MiB buffered flushes, each flush a
  fresh snappy framing stream appended to the same file)

Decode corruption semantics (triton/stream_reader.go:174-194): a record
that fails msgpack decode is logged and SKIPPED; decoding then stops for
that buffer (we cannot resynchronize mid-stream), matching the
reference's behavior of dropping the remainder of a corrupt Kinesis
record payload while later payloads still flow.
"""

from __future__ import annotations

import datetime as _dt
import re
from collections.abc import Iterator
from dataclasses import dataclass

from go_triton_spark.codec.msgpack_codec import (MsgpackError, packb,
                                               unpack_stream)
from go_triton_spark.codec.snappy_codec import SnappyError, frame_compress, frame_decompress

_KEY_RE = re.compile(r"(?P<day>\d{8})/(?P<stream>.+)-(?P<ts>\d+)\.tri$")


@dataclass(frozen=True)
class ArchiveKey:
    """Parsed archive key (StoreArchive fields, triton/archive.go:14-25)."""

    stream_name: str
    client_name: str
    t: _dt.datetime          # date (midnight UTC) from the key prefix
    sort_value: int          # unix timestamp suffix; file order within a day
    key: str


def parse_key_name(key: str) -> ArchiveKey:
    """Parse ``YYYYMMDD/<stream>-<client>-<unixts>.tri``.

    Mirrors triton/archive.go:45-68: greedy stream part, then exactly
    two "-"-separated components (stream may contain "_", client may
    not contain "-"). Raises ValueError on malformed keys.
    """
    m = _KEY_RE.search(key)
    if not m:
        raise ValueError(f"Invalid key name: {key!r}")
    try:
        t = _dt.datetime.strptime(m.group("day"), "%Y%m%d").replace(tzinfo=_dt.timezone.utc)
    except ValueError:
        raise ValueError(f"Invalid date in key name: {key!r}") from None
    name_parts = m.group("stream").split("-")
    if len(name_parts) != 2:
        raise ValueError(f"Failure parsing stream name: {m.group('stream')!r}")
    return ArchiveKey(
        stream_name=name_parts[0],
        client_name=name_parts[1],
        t=t,
        sort_value=int(m.group("ts")),
        key=key,
    )


def generate_key_name(stream_name: str, client_name: str, when: _dt.datetime) -> str:
    """Writer-side key (triton/store.go:97-104): processing-time date."""
    if "-" in client_name:
        raise ValueError("client name cannot contain '-' (it is the key delimiter)")
    if when.tzinfo is None:
        when = when.replace(tzinfo=_dt.timezone.utc)
    day_s = when.strftime("%Y%m%d")
    name = f"{stream_name}-{client_name}" if client_name else stream_name
    return f"{day_s}/{name}-{int(when.timestamp())}.tri"


def write_tri_bytes(records: list[dict], flush_bytes: int = 1024 * 1024) -> bytes:
    """Encode records as a .tri file body.

    Reproduces the reference's flush behavior: each ``flush_bytes``
    buffer becomes its own snappy framing stream appended back-to-back
    (triton/store.go:127-142, BUFFER_SIZE=1 MiB store.go:201).
    """
    out = bytearray()
    buf = bytearray()
    for rec in records:
        b = packb(rec)
        if buf and len(buf) + len(b) > flush_bytes:
            out += frame_compress(bytes(buf))
            buf = bytearray()
        buf += b
    if buf:
        out += frame_compress(bytes(buf))
    return bytes(out)


def unpack_maps(body: bytes, on_corrupt: str = "skip") -> Iterator[dict]:
    """Yield the msgpack maps concatenated in ``body``.

    The record loop shared by every concatenated-maps reader (.tri
    bodies, ``kinesis_sim`` ``.msgpack`` shard files). ``on_corrupt``:
    "skip" drops non-map objects and stops at the first undecodable
    byte (S5: no resync inside a concatenated stream); "raise" raises
    ``MsgpackError`` on either.
    """
    try:
        for obj in unpack_stream(body):
            if isinstance(obj, dict):
                yield obj
            elif on_corrupt != "skip":
                raise MsgpackError(f"non-map record: {type(obj)}")
    except MsgpackError:
        if on_corrupt != "skip":
            raise


def read_tri_bytes(data: bytes, on_corrupt: str = "skip") -> list[dict]:
    """Decode a .tri file body into record maps.

    ``on_corrupt``: "skip" (reference semantics: log+drop, keep going
    where possible), or "raise".
    """
    try:
        body = frame_decompress(data)
    except SnappyError:
        if on_corrupt == "skip":
            return []
        raise
    return list(unpack_maps(body, on_corrupt))
