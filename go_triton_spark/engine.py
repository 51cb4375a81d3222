"""TritonEngine: the user-facing facade.

One object wires together config, the archive store, the streaming
store pipeline, the producer, and SQL over registered tables — the
Spark-first equivalent of the reference CLI's three entry points
(store / cat / stats, triton.go) plus the full relational surface the
reference lacks (SURVEY section 2.2).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from go_triton_spark.config import StreamConfig, config_for_name, load_config
from go_triton_spark.operators.registry import read_parquet
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.producer import Client, MockClient
from go_triton_spark.streaming.checkpoints import (checkpoint_stats,
                                                   mirror_to_db)
from go_triton_spark.streaming.store import StorePipeline


class TritonEngine:
    def __init__(self, spark: SparkSession, root: str,
                 config: str | dict[str, StreamConfig] | None = None,
                 client: str = "archive"):
        if "-" in client:
            # the archive key delimiter (triton.go:224-227, archive.go:60-63)
            raise ValueError("client name cannot contain '-' (key delimiter)")
        self.spark = spark
        self.root = root
        self.client = client
        if isinstance(config, dict):
            self.configs = config
        elif config:
            self.configs = load_config(config)
        else:
            self.configs = {}
        self.archive = ArchiveStore(spark, os.path.join(root, "archive"))
        self.checkpoint_root = os.path.join(root, "checkpoints")
        self._pipelines: dict[str, StorePipeline] = {}

    # ------------------------------------------------------------ config

    def config_for(self, name: str) -> StreamConfig:
        return config_for_name(self.configs, name)

    # ----------------------------------------------------- store (ingest)

    def store(self, stream: str, schema=None, once: bool = False,
              trigger_seconds: float = 1.0,
              skip_to_latest: bool = False,
              on_error=None) -> StorePipeline:
        """Start the ingest pipeline for a stream (``triton store``).

        ``skip_to_latest`` overrides the stream's start position to
        LATEST — the reference's ``store --skip-to-latest`` flag
        (triton.go:197-199): ignore the backlog, archive only records
        arriving from now on. Only meaningful on a FIRST start; once a
        checkpoint exists, resume position comes from the checkpoint.

        ``on_error``: reporter for skipped/corrupt records and stream
        failures (the reference's Sentry hook, stream_reader.go:159-192;
        see go_triton_spark.reporting). Default = log + count.
        """
        import dataclasses

        cfg = self.config_for(stream)
        if skip_to_latest:
            cfg = dataclasses.replace(
                cfg, options={**cfg.options, "start_position": "LATEST"})
        pipe = StorePipeline(self.spark, cfg, self.client,
                             self.archive.root, self.checkpoint_root,
                             on_error=on_error)
        pipe.start(schema=schema, once=once, trigger_seconds=trigger_seconds)
        self._pipelines[stream] = pipe
        return pipe

    def stop_all(self) -> None:
        for pipe in self._pipelines.values():
            pipe.stop()

    # ------------------------------------------------------ cat (replay)

    def cat(self, stream: str, start_date: _dt.date,
            end_date: _dt.date | None = None, client: str | None = None,
            ordered: bool = True) -> DataFrame:
        cfg = self.configs.get(stream)
        physical = cfg.stream_name if cfg else stream
        return self.archive.cat(physical, start_date, end_date,
                                client=client, ordered=ordered)

    def cat_json(self, *args, **kwargs) -> DataFrame:
        cfg = self.configs.get(args[0])
        physical = cfg.stream_name if cfg else args[0]
        return self.archive.cat_json(physical, *args[1:], **kwargs)

    # ---------------------------------------------------------- producer

    def producer(self, mock: bool = False, **kwargs):
        if mock:
            return MockClient()
        return Client(self.configs, os.path.join(self.root, "incoming"), **kwargs)

    # ------------------------------------------------------------- stats

    def stats(self, client: str | None = None) -> dict[str, int]:
        """``triton stats``: checkpoint ages (S18)."""
        return checkpoint_stats(self.spark, self.checkpoint_root, client)

    def mirror_checkpoints(self, db_url: str) -> int:
        """Opt-in SQL mirror of ``triton_checkpoint`` for external
        monitors (reference DDL, triton/checkpoint.go:95-103).
        ``db_url``: ``sqlite://file.db``, ``postgres://host/db``, or a
        bare sqlite path — scheme dispatch matches triton.go:58-83."""
        return mirror_to_db(self.checkpoint_root, db_url)

    def stream_stats(self) -> dict[str, dict]:
        """Last micro-batch progress of each store pipeline this engine
        started, stopped ones included, keyed by query name: rows/sec
        and the batch-duration breakdown, the Spark-native upgrade of
        checkpoint-age monitoring.

        Read the breakdown before resizing: ``getBatch`` (plus
        ``latestOffset``) is the source's listing and planning of the
        batch's new files, ``addBatch`` is the write. Raise
        ``maxFilesPerTrigger`` or add executors when ``addBatch``
        dominates and batches fall behind. A batch whose ``getBatch``
        rivals its ``addBatch`` is spending its time listing, which
        neither lever shortens: check how the session lists files
        (``session.py`` keeps listing on the driver under a local
        master)."""
        out = {}
        for pipe in self._pipelines.values():
            p = pipe.query.lastProgress
            if p is not None:
                out[str(p.name or p.id)] = {
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_second": p.inputRowsPerSecond,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "duration_ms": dict(p.durationMs or {}),
                    "timestamp": p.timestamp,
                }
        return out

    # ----------------------------------------------------------- queries

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def register_tables(self, sf_dir: str, tables: tuple[str, ...] = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings")) -> None:
        """Register the driver's parquet tables as temp views, read
        through the registry's cached schemas (``read_parquet``)."""
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                read_parquet(self.spark, path).createOrReplaceTempView(t)
