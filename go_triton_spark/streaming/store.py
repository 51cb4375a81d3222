"""The store pipeline: streaming ingest -> partitioned archive.

Spark realization of ``triton store`` (triton.go:90-137 + triton/store.go):

    open_stream(cfg) -> [decode] -> stamp stream/client/date/hour
        -> writeStream.foreachBatch(ArchiveStore.commit_batch)
        .option("checkpointLocation", ...)
        .trigger(processingTime=...)

What collapses into Structured Streaming's engine (SURVEY section 3.1):
- per-shard goroutines + channel fan-in (stream_reader.go:73-145)
  -> source input partitions
- SQL checkpoint table upserts (checkpoint.go:27-76) -> offset/commit
  logs at checkpointLocation; resume is automatic
- upload-then-checkpoint of closed files (store.go:51-67) -> each
  micro-batch is staged in a hidden dir and renamed into the archive
  under its batch id (``ArchiveStore.commit_batch``), so a replayed
  batch lands once: exactly-once, an upgrade from the reference's
  at-least-once, and a reader never sees a file mid-write
- 1 MiB buffer + hourly rotation (store.go:106-142) -> micro-batch
  trigger + hour partition column
- retry/backoff (stream.go:63-111) -> spark.task.maxFailures + source
  options
- graceful SIGINT drain (triton.go:117-126) -> query.stop()
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import BinaryType as _BinaryType

from go_triton_spark.config import StreamConfig
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.sources.stream_source import open_stream


class StorePipeline:
    """One stream's ingest pipeline (reference Store, triton/store.go:20-32)."""

    #: ``stop`` already ran / the query's failure already reported
    _stopped = _reported = False

    def __init__(self, spark: SparkSession, cfg: StreamConfig, client: str,
                 archive_root: str, checkpoint_root: str, on_error=None):
        if "-" in client:
            raise ValueError("client name cannot contain '-' (key delimiter, "
                             "triton.go:224-227)")
        self.spark = spark
        self.cfg = cfg
        self.client = client
        self.archive_root = archive_root
        self.checkpoint_root = checkpoint_root
        # reporter for skipped records / stream failures (the
        # reference's Sentry hook, stream_reader.go:159-192); default =
        # process-global log+count reporter
        self.on_error = on_error
        self.query: StreamingQuery | None = None

    def _report_query_failure(self) -> None:
        """Driver-side: surface a failed streaming query to the reporter,
        once per query."""
        if self.query is None or self._reported:
            return
        try:
            exc = self.query.exception()
        except Exception:
            return
        if exc is not None:
            self._reported = True
            from go_triton_spark.reporting import (get_error_reporter,
                                                   safe_report)
            reporter = (self.on_error if self.on_error is not None
                        else get_error_reporter())
            safe_report(reporter, "stream_error", str(exc),
                        stream=self.cfg.stream_name, client=self.client)

    def _with_partitions(self, df: DataFrame) -> DataFrame:
        """Stamp processing-time partition columns (store.go:86 semantics:
        archive date/hour are wall-clock at write time, not event time)."""
        now = F.current_timestamp()
        return (
            df.withColumn("stream", F.lit(self.cfg.stream_name))
            .withColumn("client", F.lit(self.client))
            .withColumn("date", F.date_format(now, "yyyyMMdd"))
            .withColumn("hour", F.date_format(now, "HH"))
            .withColumn("_archive_sort", F.unix_timestamp(now))
        )

    def start(self, schema=None, trigger_seconds: float = 1.0,
              once: bool = False) -> StreamingQuery:
        """Start the ingest query (S8/S9). ``once=True`` drains available
        input then stops — the unit-test and backfill mode."""
        checkpoint = (f"{self.checkpoint_root}/"
                      f"{self.cfg.stream_name}-{self.client}")
        archive = ArchiveStore(self.spark, self.archive_root)
        stream, client = self.cfg.stream_name, self.client
        offsets = os.path.join(checkpoint, "offsets")
        if not (os.path.isdir(offsets)
                and any(n.isdigit() for n in os.listdir(offsets))):
            # a checkpoint with no planned batch numbers its batches
            # from 0 again: staging left by an abandoned checkpoint
            # must not pass for theirs
            archive.drop_sink_staging(stream, client)
        src = open_stream(self.spark, self.cfg, schema=schema,
                          seen_files_log=f"{checkpoint}-latest-snapshot")
        # Binary-payload sources (the real-AWS kinesis adapter) surface
        # raw msgpack maps in a `data` column; decode to the declared
        # record schema here — the reference's reader-side msgpack
        # decode + corrupt-skip (triton/stream_reader.go:173-194).
        if (schema is not None
                and self.cfg.options.get("source") == "kinesis"
                and "data" in src.columns
                and isinstance(src.schema["data"].dataType, _BinaryType)):
            from go_triton_spark.codec.decode import decode_msgpack_column
            src = decode_msgpack_column(
                src, schema, on_error=self.on_error,
                context={"stream": self.cfg.stream_name,
                         "client": self.client})
        out = self._with_partitions(src)
        writer = (
            out.writeStream
            .foreachBatch(lambda df, batch_id: archive.commit_batch(
                df, stream, client, batch_id))
            .queryName(f"store-{stream}-{client}")
            .option("checkpointLocation", checkpoint)
        )
        if once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self.query = writer.start()
        self._stopped = self._reported = False
        return self.query

    def stop(self, timeout: float = 60.0) -> None:
        """Graceful drain (S21): stop the query and await termination.
        The stopped query stays in ``self.query``, so its last progress
        still answers ``TritonEngine.stream_stats``; a second call does
        nothing. A failed query raises its exception here, and
        ``await_once`` likewise, after the reporter has it."""
        if self.query is not None and not self._stopped:
            self._stopped = True
            self.query.stop()
            try:
                self.query.awaitTermination(timeout)
            finally:
                self._report_query_failure()

    def await_once(self, timeout: float = 120.0) -> None:
        """Block until an availableNow query finishes (test helper)."""
        if self.query is not None:
            try:
                self.query.awaitTermination(timeout)
            finally:
                self._report_query_failure()
