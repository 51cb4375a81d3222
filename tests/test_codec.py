"""Codec tests: msgpack, snappy (block + framing), .tri format.

Mirrors the reference's corruption/round-trip scenarios
(triton/stream_reader_test.go:84-145, store_test.go:84-114,
archive_test.go:9-74) plus full-format coverage the reference lacks.
"""

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.msgpack_codec import (
    MsgpackError, packb, unpack_stream, unpackb,
)
from go_triton_spark.codec.snappy_codec import (
    SnappyError, crc32c, frame_compress, frame_decompress,
)
from go_triton_spark.codec.tri import (
    generate_key_name, parse_key_name, read_tri_bytes, write_tri_bytes,
)

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")

UTC = dt.timezone.utc


# ------------------------------------------------------------------ msgpack

def test_msgpack_scalar_roundtrip():
    for v in [None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536,
              2**32 - 1, 2**32, 2**63 - 1, -1, -32, -33, -128, -129,
              -32768, -32769, -2**31, -2**63, 0.0, 1.5, -3.25,
              "", "a", "x" * 31, "x" * 32, "x" * 255, "x" * 70000,
              b"", b"\x01\x02\x03", b"y" * 300]:
        obj, pos = unpackb(packb(v))
        assert obj == v, v
        assert pos == len(packb(v))


def test_msgpack_containers_roundtrip():
    v = {"object_type": "delivery", "delivery_uuid": "abc-123",
         "version": 3, "data": {"couriers": ["a", "b", "c"]},
         "nums": list(range(20)), "nested": [{"k": [1, 2]}, {}]}
    obj, _ = unpackb(packb(v))
    assert obj == v


def test_msgpack_timestamp_ext():
    ts = dt.datetime(2015, 6, 30, 2, 45, 0, tzinfo=UTC)
    obj, _ = unpackb(packb(ts))
    assert obj == ts
    ts_us = dt.datetime(2020, 1, 1, 12, 0, 0, 123456, tzinfo=UTC)
    obj, _ = unpackb(packb(ts_us))
    assert obj == ts_us
    pre_epoch = dt.datetime(1960, 1, 1, tzinfo=UTC)
    obj, _ = unpackb(packb(pre_epoch))
    assert obj == pre_epoch


def test_msgpack_large_containers():
    big_map = {f"k{i}": i for i in range(70000)}
    obj, _ = unpackb(packb(big_map))
    assert obj == big_map
    big_arr = list(range(70000))
    obj, _ = unpackb(packb(big_arr))
    assert obj == big_arr


def test_msgpack_corrupt_raises():
    with pytest.raises(MsgpackError):
        unpackb(b"\xc1")  # 0xc1 is never used
    with pytest.raises(MsgpackError):
        unpackb(packb("hello")[:-2])  # truncated str
    with pytest.raises(MsgpackError):
        unpackb(b"\x81\xa1k")  # map missing value


def test_msgpack_stream_concatenated():
    buf = packb({"value": "a"}) + packb({"value": "b"}) + packb({})
    assert list(unpack_stream(buf)) == [{"value": "a"}, {"value": "b"}, {}]


@settings(max_examples=200, deadline=None)
@given(st.recursive(
    st.none() | st.booleans() | st.integers(-2**63, 2**64 - 1)
    | st.floats(allow_nan=False) | st.text(max_size=40) | st.binary(max_size=40),
    lambda children: st.lists(children, max_size=5)
    | st.dictionaries(st.text(max_size=8), children, max_size=5),
    max_leaves=20))
def test_msgpack_property_roundtrip(v):
    obj, pos = unpackb(packb(v))
    assert obj == v


# ------------------------------------------------------------------- snappy

def test_crc32c_known_vectors():
    # RFC 3720 / kernel test vectors
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def _compressed_chunk(block: bytes, data: bytes) -> bytes:
    """A framing stream holding ``block`` as one compressed chunk."""
    import struct

    from go_triton_spark.codec.snappy_codec import masked_crc32c

    body = struct.pack("<I", masked_crc32c(data)) + block
    return (frame_compress(b"") + bytes([0x00])
            + len(body).to_bytes(3, "little") + body)


def test_snappy_block_decodes_copies():
    # Hand-built block with a back-reference: "abcdabcdabcd" =
    # literal "abcd" + copy(offset=4, len=8) (overlapping copy / RLE).
    # copy1 tag: (offset_hi<<5) | ((len-4)<<2) | 0b01 = 17, offset_lo = 4
    block = bytes([12]) + bytes([(4 - 1) << 2]) + b"abcd" + bytes([17, 4])
    data = b"abcdabcdabcd"
    assert frame_decompress(_compressed_chunk(block, data)) == data
    # a copy reaching before the start of the output is corrupt, and
    # the libsnappy error surfaces as SnappyError
    bad = bytes([12]) + bytes([(4 - 1) << 2]) + b"abcd" + bytes([17, 9])
    with pytest.raises(SnappyError):
        frame_decompress(_compressed_chunk(bad, data))
    # a preamble over the 64 KiB chunk limit is refused before any
    # buffer of that size is allocated
    huge = bytes([0x80, 0x80, 0x80, 0x40]) + block[1:]
    with pytest.raises(SnappyError, match="64 KiB"):
        frame_decompress(_compressed_chunk(huge, data))


def test_snappy_frame_roundtrip():
    for data in [b"", b"\x01\x02\x03", b"z" * 200000]:
        assert frame_decompress(frame_compress(data)) == data


def test_snappy_frame_concatenated_streams():
    # The reference writes a NEW framing stream per 1 MiB flush into the
    # same file (triton/store.go:134); reader must accept concatenation.
    buf = frame_compress(b"hello ") + frame_compress(b"world")
    assert frame_decompress(buf) == b"hello world"


def test_snappy_frame_crc_enforced():
    buf = bytearray(frame_compress(b"hello world"))
    buf[-1] ^= 0xFF  # corrupt payload
    with pytest.raises(SnappyError):
        frame_decompress(bytes(buf))


# --------------------------------------------------------------------- .tri

def test_parse_key_golden():
    # archive_test.go:9-40
    ak = parse_key_name("20150801/test_stream-archive-123455.tri")
    assert ak.stream_name == "test_stream"
    assert ak.client_name == "archive"
    assert ak.t == dt.datetime(2015, 8, 1, tzinfo=UTC)
    assert ak.sort_value == 123455


def test_parse_key_client_with_underscore():
    # archive_test.go:41-62
    ak = parse_key_name("20150801/test_stream-store_test-123455.tri")
    assert ak.stream_name == "test_stream"
    assert ak.client_name == "store_test"


def test_parse_key_invalid():
    for bad in ["nonsense", "20150801/onlyname-123.tri",
                "2015/test-client-123.tri", "20150801/test-client-abc.tri"]:
        with pytest.raises(ValueError):
            parse_key_name(bad)


def test_generate_key_golden():
    # store_test.go:36-44: store name "test" @ 2015-06-30T02:45Z
    when = dt.datetime(2015, 6, 30, 2, 45, 0, tzinfo=UTC)
    assert generate_key_name("test", "", when) == "20150630/test-1435632300.tri"
    assert (generate_key_name("events", "archive", when)
            == "20150630/events-archive-1435632300.tri")
    with pytest.raises(ValueError):
        generate_key_name("s", "bad-client", when)


def test_tri_roundtrip():
    recs = [{"value": "a"}, {"value": "b"}, {},
            {"id": 7, "ok": True, "score": 1.5,
             "ts": dt.datetime(2020, 5, 1, tzinfo=UTC),
             "data": {"couriers": ["x", "y"]}}]
    assert read_tri_bytes(write_tri_bytes(recs)) == recs


def test_tri_multi_flush_roundtrip():
    # force many flushes -> concatenated snappy streams in one body
    recs = [{"i": i, "pad": "p" * 100} for i in range(500)]
    body = write_tri_bytes(recs, flush_bytes=1024)
    assert read_tri_bytes(body) == recs


def test_tri_corrupt_bad_encoding_skipped():
    # test_util.go:36-54 "bad encoding": non-msgpack bytes -> skipped
    from go_triton_spark.codec.snappy_codec import frame_compress as fc
    body = fc(b"\xc1\xc1 not msgpack at all")
    assert read_tri_bytes(body) == []


def test_tri_corrupt_trailing_garbage_keeps_good_prefix():
    # "overlength record": valid maps then trailing garbage -> good
    # records delivered, garbage dropped (stream_reader.go:185-194)
    from go_triton_spark.codec.snappy_codec import frame_compress as fc
    good = packb({"value": "a"}) + packb({"value": "b"})
    body = fc(good + b"\xc1Hello Failure")
    assert read_tri_bytes(body) == [{"value": "a"}, {"value": "b"}]


def test_tri_empty_is_eof():
    # archive_test.go:64-74: empty object -> immediate EOF
    assert read_tri_bytes(b"") == []


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200000))
def test_snappy_frame_property_roundtrip(data):
    assert frame_decompress(frame_compress(data)) == data


@settings(max_examples=60, deadline=None)
@given(st.lists(st.dictionaries(
    st.text(min_size=1, max_size=10),
    st.none() | st.booleans() | st.integers(-2**40, 2**40)
    | st.floats(allow_nan=False) | st.text(max_size=30),
    max_size=6), max_size=30))
def test_tri_property_roundtrip(records):
    assert read_tri_bytes(write_tri_bytes(records, flush_bytes=256)) == records


# ------------------------------------------------- whole-file byte goldens

def test_tri_testput_fixture_byte_golden():
    """Byte equality with the reference's TestPut file.

    triton/store_test.go:84-114 writes payload {0x01,0x02,0x03} through
    golang/snappy's framing Writer and reads it back. For this payload
    golang/snappy emits: stream identifier chunk (0xff, len 6,
    "sNaPpY") then an UNCOMPRESSED chunk (0x01) — compression cannot
    shrink 3 incompressible bytes — of length 7 (4-byte masked CRC32C
    + payload). Our writer produces the identical byte sequence, so a
    file we write is bit-for-bit what the reference would have written
    for this fixture."""
    golden = bytes.fromhex("ff060000734e61507059"  # stream ident chunk
                           "01070000"              # uncompressed, len 7
                           "39cdc086"              # masked crc32c(010203) LE
                           "010203")
    assert frame_compress(b"\x01\x02\x03") == golden
    assert frame_decompress(golden) == b"\x01\x02\x03"


def test_tri_archive_body_byte_golden():
    """Whole-archive self-golden: the exact bytes of a .tri body for a
    fixed record set are pinned (msgpack map encoding, timestamp ext,
    snappy framing, chunk layout). Any codec change that silently
    alters the wire format fails here; the round-trip half proves the
    reader consumes the pinned bytes, not just our writer's output.
    Record shape mirrors the reference's production record
    (tritond/client_test.go:21-29)."""
    rec = {"object_type": "delivery", "delivery_uuid": "abc-123",
           "version": 3,
           "ts": dt.datetime(2015, 6, 30, 2, 45, 0, tzinfo=UTC),
           "data": {"couriers": ["a", "b"]}}
    body = write_tri_bytes([rec, rec])
    # one COMPRESSED chunk (0x00, libsnappy: the second record is a
    # back-reference to the first); 168 bytes of msgpack in 92
    golden = bytes.fromhex(
        "ff060000734e61507059005c000036a606eba401"
        "5885ab6f626a6563745f74797065a864656c6976657279ad1109d05f7575"
        "6964a76162632d313233a776657273696f6e03a27473d6ff559202aca464"
        "61746181a8636f75726965727392a161a16285abfe52003e5200")
    assert body == golden
    assert read_tri_bytes(golden) == [rec, rec]


def test_tri_reads_reference_compressed_chunks():
    """The reference (golang/snappy) writes COMPRESSED chunks (type
    0x00) with back-reference copy ops whenever compression pays, as
    our writer now does too; the READER must accept them.
    Hand-assemble a compressed chunk exactly as golang/snappy encodes
    'abcdabcdabcd' (literal 'abcd' + copy1 offset=4 len=8) and assert
    transparent decode."""
    import struct
    from go_triton_spark.codec.snappy_codec import masked_crc32c
    payload = b"abcdabcdabcd"
    block = bytes([
        12,           # uvarint preamble: uncompressed length 12
        (4 - 1) << 2, # literal tag, length 4
    ]) + b"abcd" + bytes([
        ((8 - 4) << 2) | 0x01,  # copy1 tag: len 8, offset high bits 0
        4,                      # offset low byte
    ])
    chunk = (bytes([0x00]) + (len(block) + 4).to_bytes(3, "little")
             + struct.pack("<I", masked_crc32c(payload)) + block)
    stream = bytes.fromhex("ff060000734e61507059") + chunk
    assert frame_decompress(stream) == payload


def test_tri_default_flush_over_2mib_concat_framing():
    """The >1-flush case at the DEFAULT 1 MiB buffer (store.go:201
    BUFFER_SIZE), on a >2 MiB corpus: the body must be >=3 independent
    back-to-back snappy framing streams (store.go:134 creates a NEW
    snappy.Writer per flush), each byte-level valid on its own, whose
    decompressed concatenation is exactly the msgpack concatenation of
    the records — verified by BOTH the repo reader and a by-hand split
    at each stream-identifier chunk."""
    from go_triton_spark.codec.msgpack_codec import packb
    from go_triton_spark.codec.snappy_codec import frame_decompress

    # ~2.9 MiB of msgpack across ~3000 records, content varied enough
    # that compressed frames can't be mistaken for each other
    recs = [{"i": i, "pad": ("%07d" % (i * 2654435761 % 10**7)) * 140}
            for i in range(3000)]
    body = write_tri_bytes(recs)  # DEFAULT flush_bytes = 1 MiB

    # repo reader
    assert read_tri_bytes(body) == recs

    # byte-level golden: locate every stream-identifier chunk
    magic = bytes((0xFF, 6, 0, 0)) + b"sNaPpY"
    starts = []
    pos = 0
    while True:
        pos = body.find(magic, pos)
        if pos < 0:
            break
        starts.append(pos)
        pos += len(magic)
    assert starts[0] == 0
    n_payload = sum(len(packb(r)) for r in recs)
    assert n_payload > 2 * 1024 * 1024, "fixture must exceed 2 MiB"
    assert len(starts) >= 3, "expected >=3 flushes for a >2 MiB corpus"

    # each segment is a complete, independently-decodable framing
    # stream; their concatenation is the full msgpack byte stream
    segs = [body[a:b] for a, b in zip(starts, starts[1:] + [len(body)])]
    parts = [frame_decompress(s) for s in segs]
    assert all(len(p) <= 1024 * 1024 for p in parts[:-1])
    assert b"".join(parts) == b"".join(packb(r) for r in recs)


def test_tri_flush_property_random_sizes():
    """Property: any record mix x any flush size round-trips and the
    per-flush framing segments always reassemble to the same bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from go_triton_spark.codec.msgpack_codec import packb
    from go_triton_spark.codec.snappy_codec import frame_decompress

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.fixed_dictionaries(
                {"k": st.integers(min_value=0, max_value=2**40),
                 "s": st.text(max_size=200)}),
            min_size=1, max_size=60),
        st.integers(min_value=64, max_value=4096),
    )
    def check(recs, flush_bytes):
        body = write_tri_bytes(recs, flush_bytes=flush_bytes)
        assert read_tri_bytes(body) == recs
        magic = bytes((0xFF, 6, 0, 0)) + b"sNaPpY"
        starts = [i for i in range(len(body))
                  if body[i:i + len(magic)] == magic]
        segs = [body[a:b] for a, b in zip(starts, starts[1:] + [len(body)])]
        assert b"".join(frame_decompress(s) for s in segs) \
            == b"".join(packb(r) for r in recs)

    check()


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"),
        whitelist_characters="_"), min_size=1, max_size=30),
    st.text(alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"),
        whitelist_characters="_"), min_size=1, max_size=20),
    st.datetimes(min_value=dt.datetime(2000, 1, 1),
                 max_value=dt.datetime(2100, 1, 1)),
)
def test_key_name_roundtrip_property(stream, client, when):
    """generate_key_name -> parse_key_name roundtrips any dash-free
    stream/client (the reference grammar: stream may contain '_',
    client may not contain '-'; archive.go:45-68)."""
    from go_triton_spark.codec.tri import generate_key_name, parse_key_name

    if "-" in stream:  # stream with a dash would shift the client split
        stream = stream.replace("-", "_")
    when = when.replace(tzinfo=dt.timezone.utc, microsecond=0)
    key = generate_key_name(stream, client, when)
    ak = parse_key_name(key)
    assert ak.stream_name == stream
    assert ak.client_name == client
    assert ak.t.date() == when.date()
    assert ak.sort_value == int(when.timestamp())
    assert ak.key == key
