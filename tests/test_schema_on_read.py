"""Schema-on-read: every record source reads a schemaless record map
into the declared schema through ``codec.decode.coerce`` (SURVEY §1.1:
the reference decodes a msgpack map at the reader,
triton/stream_reader.go:173). One table pins each (value kind × Spark
type) cell; the sources must agree on the same record; an uncoercible
field is a reported null, never a failed task."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from go_triton_spark.codec.decode import coerce, decode_msgpack_column
from go_triton_spark.codec.msgpack_codec import packb
from go_triton_spark.codec.tri import write_tri_bytes
from go_triton_spark.reporting import CollectingReporter, set_error_reporter
from go_triton_spark.sources.kinesis_sim import (KinesisSimStreamReader,
                                                 _ShardSlice,
                                                 register_kinesis_sim)
from go_triton_spark.sources.tri_datasource import register_tri_datasource
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc
JAN1 = dt.datetime(2024, 1, 1, tzinfo=UTC)

# a reported null, as opposed to the null a None value reads as
NULL = "<reported null>"

TYPES = [T.StringType(), T.LongType(), T.DoubleType(), T.BooleanType(),
         T.BinaryType(), T.TimestampType(), T.ArrayType(T.LongType()),
         T.StructType([T.StructField("k", T.StringType())]),
         T.MapType(T.StringType(), T.LongType())]

# value kind -> expected result per column of TYPES
TABLE = [
    (None, [None] * 9),
    (True, ["true", NULL, NULL, True, NULL, NULL, NULL, NULL, NULL]),
    (1704067200, ["1704067200", 1704067200, 1704067200.0, True, NULL, JAN1,
                  NULL, NULL, NULL]),
    (2.5, ["2.5", NULL, 2.5, NULL, NULL,
           dt.datetime(1970, 1, 1, 0, 0, 2, 500000, tzinfo=UTC),
           NULL, NULL, NULL]),
    ("abc", ["abc", NULL, NULL, NULL, b"abc", NULL, NULL, NULL, NULL]),
    (b"hi", ["hi", NULL, NULL, NULL, b"hi", NULL, NULL, NULL, NULL]),
    ([1, "2"], ['[1, "2"]', NULL, NULL, NULL, NULL, NULL, [1, 2], NULL, NULL]),
    ({"k": "1"}, ['{"k": "1"}', NULL, NULL, NULL, NULL, NULL, NULL,
                  {"k": "1"}, {"k": 1}]),
    (JAN1, ["2024-01-01T00:00:00+00:00", NULL, NULL, NULL, NULL, JAN1,
            NULL, NULL, NULL]),
]

# the cells the value kinds above leave open
EXTRA = [
    ("42", T.LongType(), 42),
    ("42", T.DoubleType(), 42.0),
    (3.0, T.LongType(), 3),
    (2 ** 70, T.LongType(), NULL),
    (2 ** 63 - 1, T.LongType(), 2 ** 63 - 1),
    (2 ** 31, T.IntegerType(), NULL),
    (-129, T.ByteType(), NULL),
    (float("inf"), T.LongType(), NULL),
    ("false", T.BooleanType(), False),
    ("TRUE", T.BooleanType(), True),
    (0, T.BooleanType(), False),
    (b"\xff", T.StringType(), NULL),
    ("2024-01-01T00:00:00Z", T.TimestampType(), JAN1),
    ("2024-01-01T00:00:00", T.TimestampType(), JAN1),
    ("2024-01-01T01:00:00+01:00", T.TimestampType(),
     dt.datetime(2024, 1, 1, 1, tzinfo=dt.timezone(dt.timedelta(hours=1)))),
    (10 ** 20, T.TimestampType(), NULL),
    ("2024-01-01", T.DateType(), NULL),  # no msgpack mapping
]

CELLS = ([(v, t, want) for v, row in TABLE for t, want in zip(TYPES, row)]
         + EXTRA)


@pytest.mark.parametrize("value,dtype,want", CELLS,
                         ids=[f"{v!r:.20}->{t.simpleString()}"
                              for v, t, _ in CELLS])
def test_coerce_table(value, dtype, want):
    rep = CollectingReporter()
    got = coerce(value, dtype, rep, {"field": "f"})
    if want is NULL:
        assert got is None
        assert [(k, c) for k, _m, c in rep.events] == \
            [("uncoercible_field", {"field": "f"})]
    else:
        assert got == want and type(got) is type(want)
        assert rep.events == []


def test_coerce_nested_nulls_only_the_bad_part():
    rep = CollectingReporter()
    assert coerce([1, "x", 3], T.ArrayType(T.LongType()), rep) == [1, None, 3]
    assert coerce({"a": 1, "b": "x"}, T.MapType(T.StringType(), T.LongType()),
                  rep) == {"a": 1, "b": None}
    assert coerce({"x": 1, "2": 2}, T.MapType(T.LongType(), T.LongType()),
                  rep) == {2: 2}
    assert len(rep.events) == 3


PROBE = {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "props": {"k": "1"}}


def _drain_kinesis_sim(spark, root, ckpt, fmt):
    register_kinesis_sim(spark)
    captured = []
    q = (spark.readStream.format("kinesis_sim").schema(EVENTS_SCHEMA)
         .option("format", fmt).load(root)
         .writeStream.foreachBatch(lambda df, b: captured.extend(df.collect()))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    return captured


def _shard_file(root, name, body):
    os.makedirs(f"{root}/shardId-000", exist_ok=True)
    with open(f"{root}/shardId-000/{name}", "wb") as f:
        f.write(body)


def test_every_source_reads_the_probe_record_alike(spark, tmp_path):
    """Kinesis payload decode, kinesis_sim (jsonl and msgpack) and
    format("tri") give one row for one record."""
    payload = spark.createDataFrame(
        [(packb(PROBE),)], T.StructType([T.StructField("data", T.BinaryType())]))
    rows = {"kinesis": decode_msgpack_column(payload, EVENTS_SCHEMA).collect()}

    for fmt, body in (("jsonl", json.dumps(PROBE).encode() + b"\n"),
                      ("msgpack", packb(PROBE))):
        root = str(tmp_path / fmt)
        _shard_file(root, f"000000.{fmt}", body)
        rows[f"kinesis_sim {fmt}"] = _drain_kinesis_sim(
            spark, root, str(tmp_path / f"ckpt_{fmt}"), fmt)

    day = tmp_path / "tri" / "20240101"
    day.mkdir(parents=True)
    (day / "events-a-1704067200.tri").write_bytes(write_tri_bytes([PROBE]))
    register_tri_datasource(spark)
    rows["tri"] = (spark.read.format("tri").schema(EVENTS_SCHEMA)
                   .load(str(tmp_path / "tri")).collect())

    want = [(1, dt.datetime(2024, 1, 1), None, None, None, '{"k": "1"}')]
    assert {path: [tuple(r) for r in got] for path, got in rows.items()} == \
        {path: want for path in rows}


def test_kinesis_sim_uncoercible_field_is_a_reported_null(spark, tmp_path):
    """One record whose event_id is not a number: the stream keeps
    running, the field reads as null, and the reader reports it."""
    root = str(tmp_path / "k")
    _shard_file(root, "000000.jsonl",
                b'{"event_id": "abc"}\n{"event_id": 2}\n')
    got = _drain_kinesis_sim(spark, root, str(tmp_path / "ckpt"), "jsonl")
    assert sorted(r.event_id for r in got if r.event_id is not None) == [2]
    assert len(got) == 2

    # the report is raised where the reader runs: drive it in-process
    rep = CollectingReporter()
    set_error_reporter(rep)
    try:
        reader = KinesisSimStreamReader({"path": root}, EVENTS_SCHEMA)
        rows = list(reader.read(_ShardSlice(root, "shardId-000", 0, 1)))
    finally:
        set_error_reporter(None)
    assert [r[0] for r in rows] == [None, 2]
    assert [(k, c) for k, _m, c in rep.events] == \
        [("uncoercible_field", {"shard": "shardId-000", "field": "event_id"})]
