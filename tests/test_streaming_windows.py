"""Event-time streaming tests: watermark + windowed aggregation and
foreachBatch .tri export — the operators event_time.py runs in batch,
proven here through the actual Structured Streaming engine.
"""

import datetime as dt
import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc


def _write_events(dirpath, records):
    os.makedirs(dirpath, exist_ok=True)
    fname = os.path.join(dirpath, f"batch-{len(os.listdir(dirpath))}.json")
    with open(fname, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:10:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00Z", "user_id": 1,
         "event_type": "click", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:05:00Z", "user_id": 2,
         "event_type": "view", "value": 3.0, "props": "{}"},
    ])
    stream = (spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
              .withWatermark("ts", "10 minutes")
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    q = (stream.writeStream.format("memory").queryName("win_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["w"]["start"].hour, r["event_type"]): (r["n"], r["total"])
            for r in spark.sql("SELECT * FROM win_agg").collect()}
    assert rows[(0, "click")] == (2, 3.0)
    assert rows[(1, "view")] == (1, 3.0)


def test_streaming_session_window(spark, tmp_path):
    src = str(tmp_path / "src")
    # two sessions for user 1 (gap > 30 min), one for user 2
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T02:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:05:00Z", "user_id": 2,
         "event_type": "view", "value": 1.0, "props": "{}"},
    ])
    stream = (spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
              .withWatermark("ts", "5 minutes")
              .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
              .agg(F.count("*").alias("n")))
    q = (stream.writeStream.format("memory").queryName("sess_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted((r["user_id"], r["n"])
                  for r in spark.sql("SELECT * FROM sess_agg").collect())
    assert rows == [(1, 1), (1, 2), (2, 1)]


def test_streaming_dropduplicates_with_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src, [
        {"event_id": 7, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 7, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},  # dup delivery
        {"event_id": 8, "ts": "2024-01-01T00:01:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
    ])
    stream = (spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
              .withWatermark("ts", "1 hour")
              .dropDuplicates(["event_id"]))
    q = (stream.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = sorted(r["event_id"]
                 for r in spark.sql("SELECT event_id FROM dedup_stream").collect())
    assert ids == [7, 8]


def test_foreachbatch_tri_export(spark, tmp_path):
    """Streaming -> .tri compat writer via foreachBatch (SURVEY S8's
    .tri-compat output mode)."""
    from go_triton_spark.sources.tri_datasource import register_tri_datasource

    register_tri_datasource(spark)
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "tri_out")
    _write_events(src, [
        {"event_id": i, "ts": "2024-01-01T00:00:00Z", "user_id": i,
         "event_type": "click", "value": float(i), "props": "{}"}
        for i in range(10)
    ])
    when = dt.datetime(2024, 1, 1, 3, 0, tzinfo=UTC)

    def sink(batch_df, batch_id):
        (batch_df.coalesce(1).write.format("tri")
         .option("stream", "events").option("client", "stream")
         .option("unix_ts", str(int(when.timestamp())))
         .mode("append").save(out_dir))

    q = (spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    back = spark.read.format("tri").schema(
        T.StructType(EVENTS_SCHEMA.fields
                     + [T.StructField("_archive_date", T.StringType())])
    ).load(out_dir)
    assert back.count() == 10
    assert back.select("_archive_date").first()[0] == "20240101"


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join: clicks x purchases within 30 min,
    both sides watermarked (state is bounded — the only shape that
    survives unbounded streams)."""
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    _write_events(clicks_dir, [
        {"event_id": 10, "ts": "2024-01-01T00:05:00Z", "user_id": 1,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 11, "ts": "2024-01-01T02:00:00Z", "user_id": 2,
         "event_type": "click", "value": 0.0, "props": "{}"},
    ])
    _write_events(buys_dir, [
        {"event_id": 20, "ts": "2024-01-01T00:25:00Z", "user_id": 1,
         "event_type": "purchase", "value": 9.0, "props": "{}"},
        {"event_id": 21, "ts": "2024-01-01T05:00:00Z", "user_id": 2,
         "event_type": "purchase", "value": 7.0, "props": "{}"},
    ])
    clicks = (spark.readStream.format("json").schema(EVENTS_SCHEMA)
              .load(clicks_dir)
              .select(F.col("user_id").alias("c_uid"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "1 hour"))
    buys = (spark.readStream.format("json").schema(EVENTS_SCHEMA)
            .load(buys_dir)
            .select(F.col("user_id").alias("b_uid"),
                    F.col("event_id").alias("buy_id"),
                    F.col("ts").alias("b_ts"))
            .withWatermark("b_ts", "1 hour"))
    joined = clicks.join(
        buys,
        (F.col("c_uid") == F.col("b_uid"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("interval 30 minutes")))
    q = (joined.writeStream.format("memory").queryName("ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [(r["click_id"], r["buy_id"])
            for r in spark.sql("SELECT * FROM ss_join").collect()]
    # user 1's purchase lands 20 min after the click (joined);
    # user 2's lands 3 h after (outside the 30-min band — dropped)
    assert rows == [(10, 20)]


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static join: the streaming fact side enriched from a
    static dimension table (no state, no watermark needed)."""
    src = str(tmp_path / "src")
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 7,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:01:00Z", "user_id": 8,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ])
    dim = spark.createDataFrame(
        [(7, "gold"), (8, "basic")], ["user_id", "tier"])
    stream = (spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
              .join(F.broadcast(dim), "user_id"))
    q = (stream.writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["tier"])
           for r in spark.sql("SELECT * FROM enriched").collect()}
    assert got == {(1, "gold"), (2, "basic")}


def test_streaming_document_dedup_and_quality_filter(spark, tmp_path):
    """The LLM-pipeline ops running through the streaming engine:
    exact dedup on content fingerprint (dropDuplicates + watermark =
    bounded state) and a quality gate, over a document stream."""
    src = str(tmp_path / "docs")
    docs_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    recs = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z", "text": "a good long document body here"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z", "text": "a good long document body here"},
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z", "text": "tiny"},
        {"doc_id": 4, "ts": "2024-01-01T00:03:00Z", "text": "another unique document body text"},
    ]
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.format("json").schema(docs_schema).load(src)
        .withColumn("fingerprint", F.md5("text"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["fingerprint"])          # streaming exact dedup
        .where(F.length("text") >= 10))           # streaming quality gate
    q = (stream.writeStream.format("memory").queryName("doc_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM doc_dedup").collect())
    # doc 2 is a dup of 1 (same fingerprint); doc 3 fails the gate
    assert kept == [1, 4]


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: dedup state is TTL'd by the
    event-time watermark instead of kept forever — the bounded-state
    form of streaming exact dedup (keys can recur after the horizon
    passes; state size is bounded by keys-per-watermark-window, the
    property that makes streaming dedup viable at 100 TB/day)."""
    import json as _json
    import os as _os

    from go_triton_spark.types import EVENTS_SCHEMA

    src = str(tmp_path / "src_ddww")
    _os.makedirs(src)
    rows = []
    for i in range(6):
        rows.append({"event_id": i % 3,  # each id appears twice
                     "ts": f"2026-08-13T09:00:0{i}Z", "user_id": i,
                     "event_type": "click", "value": 1.0, "props": "{}"})
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows))

    captured = []
    stream = spark.readStream.format("json").schema(EVENTS_SCHEMA).load(src)
    q = (stream.withWatermark("ts", "10 minutes")
         .dropDuplicatesWithinWatermark(["event_id"])
         .writeStream.foreachBatch(lambda df, b: captured.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_ddww"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert sorted(r.event_id for r in captured) == [0, 1, 2]
