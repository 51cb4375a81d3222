"""spark.read/write.format('tri'): the PySpark 4 Python DataSource
packaging of the .tri codec — round trip of a DataFrame, per-file
partitions, corrupt-skip, and the directory-tailing stream reader
(checkpointed offsets, incremental batches)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from go_triton_spark.sources.tri_datasource import register_tri_datasource
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc


@pytest.fixture()
def events_df(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(120)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


@pytest.fixture()
def registered(spark):
    register_tri_datasource(spark)
    return spark


def _write(df, out, client, when=None):
    """One archive file of ``df`` under ``out``, keyed at ``when``."""
    w = (df.coalesce(1).write.format("tri")
         .option("stream", "events").option("client", client))
    if when is not None:
        w = w.option("unix_ts", str(int(when.timestamp())))
    w.mode("append").save(out)


def test_tri_format_round_trips_source_rows(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    _write(events_df, out, "alpha")
    back = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, events_df.select(*EVENTS_SCHEMA.names).collect()))
    assert got == want and len(got) == 120


def test_tri_format_partition_per_file(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    _write(events_df.where("event_id % 2 = 0"), out, "alpha")
    _write(events_df.where("event_id % 2 = 1"), out, "beta")
    df = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 120


def test_tri_format_corrupt_file_skipped(registered, tmp_path):
    spark = registered
    out = tmp_path / "20260813"
    out.mkdir()
    (out / "events-alpha-1765000000.tri").write_bytes(b"\x00garbage not snappy")
    df = spark.read.format("tri").schema(EVENTS_SCHEMA).load(str(tmp_path))
    assert df.count() == 0  # corrupt-skip, not error (stream_reader.go:174-194)


def test_tri_format_requires_schema(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    _write(events_df, out, "alpha")
    with pytest.raises(Exception, match="schema"):
        spark.read.format("tri").load(out).collect()


def test_tri_stream_incremental_files(registered, events_df, tmp_path):
    """New archive file -> exactly the new rows in the next batch;
    offsets checkpoint across restarts (S1/S2/S7 semantics)."""
    spark = registered
    out = str(tmp_path / "arch")
    ckpt = str(tmp_path / "ckpt")
    first = events_df.where("event_id < 60")
    second = events_df.where("event_id >= 60")
    _write(first, out, "alpha", when=dt.datetime(2026, 8, 13, 10, 0, tzinfo=UTC))

    def drain():
        captured = []
        q = (spark.readStream.format("tri").schema(EVENTS_SCHEMA).load(out)
             .writeStream.foreachBatch(
                 lambda df, bid: captured.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return captured

    got1 = drain()
    assert len(got1) == first.count()
    _write(second, out, "alpha", when=dt.datetime(2026, 8, 13, 11, 0, tzinfo=UTC))
    got2 = drain()
    assert len(got2) == second.count()  # only the new file's rows
    assert {r.event_id for r in got1} | {r.event_id for r in got2} == \
        {r.event_id for r in events_df.select("event_id").collect()}


def test_tri_format_write_path(registered, events_df, tmp_path):
    """df.write.format('tri'): reference key grammar, commit-rename
    atomicity (no .staged leftovers), read-back parity."""
    spark = registered
    out = str(tmp_path / "arch_w")
    (events_df.repartition(3).write.format("tri")
     .option("stream", "events").option("client", "alpha")
     .option("unix_ts", "1765000000")
     .mode("append").save(out))
    files = []
    for root, _d, fs in os.walk(out):
        files.extend(os.path.join(root, f) for f in fs)
    assert all(f.endswith(".tri") for f in files)  # no .staged leftovers
    assert len(files) == 3  # one archive per partition
    assert all(os.path.basename(f).startswith("events-alpha-176500000")
               for f in files)
    back = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    assert sorted(r.event_id for r in back.select("event_id").collect()) == \
        sorted(r.event_id for r in events_df.select("event_id").collect())


def test_tri_format_write_rejects_overwrite_and_dash_client(
        registered, events_df, tmp_path):
    spark = registered
    with pytest.raises(Exception, match="append-only"):
        (events_df.write.format("tri").option("stream", "events")
         .mode("overwrite").save(str(tmp_path / "x")))
    with pytest.raises(Exception, match="client"):
        (events_df.write.format("tri").option("stream", "events")
         .option("client", "with-dash").mode("append")
         .save(str(tmp_path / "y")))
