"""The compressed-shard decoder behind the `text_*_jsonl_ingest` queries.

One decoder per format: stdlib ``lzma`` for xz, pyarrow's libzstd and
liblz4 for zstd and lz4. Every corrupt shard must surface as a
ValueError (the queries' corrupt-skip), never as silently shortened
output.
"""

from __future__ import annotations

import random
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.operators.ingest import _compress, _decompress, _flip

_A = b'{"doc": 1, "body": "quick brown fox"}\n' * 40
_B = b'{"doc": 2, "body": "lazy dog"}\n' * 40
_NOISE = random.Random(0).randbytes(40_000)   # several blocks, no matches


def test_xz_keeps_every_stream_and_rejects_leftovers():
    """`lzma.decompress` stops quietly at leftover bytes it cannot
    parse, so it would return only the first stream of a padded
    concatenation and drop a corrupt second stream or trailing junk
    unreported."""
    a, b = _compress("xz", _A), _compress("xz", _B)
    assert _decompress("xz", a + b"\0" * 8 + b) == _A + _B
    with pytest.raises(ValueError):
        _decompress("xz", a + b"\0" * 8 + _flip(b, len(b) // 2))
    with pytest.raises(ValueError):
        _decompress("xz", a + b"trailing junk, not a stream")


_SKIPPABLE = struct.pack("<II", 0x184D2A50, 4) + b"meta"
_XZ_A = _compress("xz", _A)

_CASES = {
    "zstd-concatenated": (
        "zstd", _compress("zstd", _A) + _compress("zstd", _B), _A + _B),
    "lz4-concatenated": (
        "lz4", _compress("lz4", _A) + _compress("lz4", _B), _A + _B),
    "lz4-skippable-between": (
        "lz4", _compress("lz4", _A) + _SKIPPABLE + _compress("lz4", _B),
        _A + _B),
    "xz-padding-only-tail": ("xz", _compress("xz", _A) + b"\0" * 4, _A),
    "xz-padding-unaligned": ("xz", _compress("xz", _A) + b"\0" * 3, None),
    "zstd-trailing-junk": ("zstd", _compress("zstd", _A) + b"junk", None),
    "lz4-trailing-junk": ("lz4", _compress("lz4", _A) + b"junk", None),
    "zstd-truncated": (
        "zstd", _compress("zstd", _NOISE)[:20_000], None),
    "lz4-truncated": ("lz4", _compress("lz4", _NOISE)[:20_000], None),
    "xz-truncated": ("xz", _compress("xz", _NOISE)[:20_000], None),
    "xz-flipped-body-byte": (
        "xz", _flip(_XZ_A, len(_XZ_A) // 2), None),
    "lz4-flipped-header-checksum": (
        "lz4", _flip(_compress("lz4", _A), 6), None),
    "zstd-empty": ("zstd", b"", b""),
    "lz4-empty": ("lz4", b"", None),
    "xz-empty": ("xz", b"", None),
}


@pytest.mark.parametrize("kind,data,want", _CASES.values(), ids=_CASES)
def test_decompress_edge_cases(kind, data, want):
    """`want` None means the shard is corrupt and must be rejected."""
    if want is None:
        with pytest.raises(ValueError):
            _decompress(kind, data)
    else:
        assert _decompress(kind, data) == want


@given(st.sampled_from(["xz", "zstd", "lz4"]), st.binary())
@settings(max_examples=60, deadline=None)
def test_decompress_round_trip(kind, payload):
    assert _decompress(kind, _compress(kind, payload)) == payload
