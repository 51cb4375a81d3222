"""Codec layer: msgpack, snappy framing format, and the .tri archive format.

msgpack is pure Python (no msgpack package is installed) and snappy
blocks go through pyarrow's libsnappy; the hot path runs them inside Arrow-batched
``mapInPandas`` so per-file work is vectorized at the task level — at
cluster scale each .tri file decode is one task, embarrassingly parallel.
Canonical storage is Parquet; these codecs exist only for byte-format
compatibility at the edges (SURVEY section 1.4).
"""

from go_triton_spark.codec.msgpack_codec import packb, unpackb, unpack_stream
from go_triton_spark.codec.snappy_codec import frame_compress, frame_decompress
from go_triton_spark.codec.tri import (
    write_tri_bytes,
    read_tri_bytes,
    parse_key_name,
    generate_key_name,
    ArchiveKey,
)

__all__ = [
    "packb", "unpackb", "unpack_stream",
    "frame_compress", "frame_decompress",
    "write_tri_bytes", "read_tri_bytes",
    "parse_key_name", "generate_key_name", "ArchiveKey",
]
