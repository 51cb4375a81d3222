"""Format coverage (csv/json/parquet round trips) and the rate source
path (S1/S3: synthetic shard load through the store pipeline)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from go_triton_spark.config import StreamConfig, load_config
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.sources.stream_source import open_stream

UTC = dt.timezone.utc


def test_csv_round_trip(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(50)
    out = str(tmp_path / "csv")
    (ev.select("event_id", "user_id", "event_type", "value")
     .write.option("header", "true").csv(out))
    back = (spark.read.option("header", "true")
            .option("inferSchema", "true").csv(out))
    assert back.count() == 50
    assert set(r[0] for r in back.select("event_type").distinct().collect()) \
        <= {"signup", "click", "error", "view", "purchase"}


def test_json_round_trip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(20)
    out = str(tmp_path / "json")
    docs.write.json(out)
    back = spark.read.json(out)
    assert back.count() == 20
    assert back.where(F.col("lang").isNull()).count() == 0


def test_cat_missing_archive_clear_error(spark, tmp_path):
    store = ArchiveStore(spark, str(tmp_path / "never_written"))
    with pytest.raises(FileNotFoundError, match="nothing has been stored"):
        store.cat("events", dt.date(2024, 1, 1))


def test_rate_source_through_store_pipeline(spark, tmp_path):
    """S1/S3 parity: the rate source stands in for a Kinesis shard
    producing a bounded record flow; the store pipeline archives it."""
    import time
    cfg = StreamConfig("synthetic", "value",
                       options={"source": "rate", "rows_per_second": 500})
    from go_triton_spark.streaming.store import StorePipeline
    pipe = StorePipeline(spark, cfg, "ratetest",
                         str(tmp_path / "archive"), str(tmp_path / "ckpt"))
    src = open_stream(spark, cfg)
    assert src.isStreaming
    out = pipe._with_partitions(src)
    q = (out.writeStream.format("parquet")
         .partitionBy("stream", "client", "date", "hour")
         .option("path", pipe.archive_root)
         .option("checkpointLocation", pipe.checkpoint_root)
         .trigger(processingTime="1 second").start())
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            time.sleep(2)
            try:
                n = spark.read.parquet(pipe.archive_root).count()
            except Exception:
                continue
            if n > 0:
                break
        assert n > 0, "rate source produced no archived rows"
    finally:
        q.stop()


def test_orc_round_trip(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_orc")
    src.write.format("orc").save(out)
    back = spark.read.format("orc").load(out)
    assert sorted(back.collect()) == sorted(src.collect())
    assert back.schema == src.schema


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Archive schema evolution: a new producer field appears in later
    files; mergeSchema reads old+new together with nulls backfilled."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.parquet(out + "/p=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2_new"]) \
        .write.parquet(out + "/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "v1", "v2_new", "p"}
    rows = {r["id"]: r["v2_new"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_kinesis_source_builds_streaming_frame(spark):
    """The real-AWS adapter (S1, kinesis_boto3.py): source=kinesis
    resolves to the registered Python DataSource and yields an
    unbounded DataFrame with the Kinesis record schema — without
    importing boto3 (that happens lazily at query start)."""
    from go_triton_spark.config import load_config
    from go_triton_spark.sources.kinesis_boto3 import KINESIS_SCHEMA
    from go_triton_spark.sources.stream_source import open_stream
    cfg = load_config("""
events:
  name: events-prod
  region: us-west-1
  partition_key: user_id
  source: kinesis
""")["events"]
    df = open_stream(spark, cfg)
    assert df.isStreaming
    assert df.schema == KINESIS_SCHEMA


def test_unknown_source_type_rejected(spark):
    from go_triton_spark.config import load_config
    from go_triton_spark.sources.stream_source import open_stream
    for source in ("carrier_pigeon", "kinesis_connector"):
        cfg = load_config(f"""
events:
  name: events
  partition_key: user_id
  source: {source}
""")["events"]
        with pytest.raises(ValueError, match="unknown stream source"):
            open_stream(spark, cfg)


def test_xml_round_trip(spark, sf_dir, tmp_path):
    """XML source (built into Spark 4) round-trips a dimension table;
    values survive, column order does (XML attributes carry no order
    guarantee, so compare as sets of tuples by sorted column name)."""
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_xml")
    src.write.format("xml").option("rootTag", "nations") \
        .option("rowTag", "nation").save(out)
    back = spark.read.format("xml").option("rowTag", "nation").load(out)
    cols = sorted(src.columns)
    orig = sorted(map(tuple, src.select(*cols).collect()))
    got = sorted(map(tuple, back.selectExpr(
        *[f"cast({c} AS {t})" for c, t in src.select(*cols).dtypes]).collect()))
    assert got == orig
