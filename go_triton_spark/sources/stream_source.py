"""open_stream: pluggable streaming source resolution.

The reference reads Kinesis shards (triton/stream.go). Structured
Streaming's equivalents, selected by ``StreamConfig.options['source']``:

- ``file``   : file-drop directory source (the default test/local mode;
               also the production pattern for a Kinesis->S3 bridge,
               e.g. Kinesis Firehose landing files). Options: ``path``,
               ``format`` (json/parquet), ``max_files_per_trigger``.
- ``rate``   : Spark's rate source (synthetic load; perf tests).
- ``memory`` : not a real source — tests build their own input via
               ``spark.readStream.format("rate")`` or MemoryStream from
               the Scala side; we expose ``file`` for determinism.
- ``kinesis_sim``: shard-parallel Kinesis simulator (registered Python
               DataSource, ``sources/kinesis_sim.py``): shard dirs ->
               input partitions, per-shard file offsets in the query
               checkpoint, LATEST/TRIM_HORIZON, resharding discovery.
- ``kinesis``: real-AWS adapter (``sources/kinesis_boto3.py``): a
               boto3-backed Python DataSource mirroring the reference's
               poll loop (GetShardIterator/GetRecords, rate limit,
               quadratic retry backoff — triton/stream.go:63-177) with
               LATEST / TRIM_HORIZON / AFTER_SEQUENCE_NUMBER offsets in
               the query checkpoint. boto3 is imported lazily; tests
               inject a scripted fake service via ``client_factory``.
               Its msgpack payloads are read into the declared schema
               by ``codec.decode`` (StorePipeline).

Start-position semantics (S2/S7): for file sources, "TRIM_HORIZON" ==
process existing files; "LATEST" == a REAL backlog skip — the files
present at first start are snapshotted and excluded via a broadcast
anti-filter (Spark's own ``latestFirst`` only reorders the backlog, it
never skips it). Resume-from-checkpoint is automatic via
``checkpointLocation`` (S6) — strictly stronger than the reference's
SQL checkpoint table (at-least-once -> exactly-once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_triton_spark.config import StreamConfig


def _list_files_recursive(spark: SparkSession, path: str) -> list[str]:
    """Driver-side recursive file listing via Hadoop FS (works for any
    configured scheme). Cost is the same O(existing files) listing
    FileStreamSource itself performs on every micro-batch, paid once."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        return []
    out: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        # RAW (percent-encoded) path, NOT getPath(): the snapshot is
        # compared against input_file_name(), which Spark serves
        # percent-encoded (SparkPath keeps the url-encoded form) — a
        # decoded snapshot entry for "a b.json" would never match the
        # stream's "a%20b.json" and the backlog file would leak through
        # LATEST. Both sides come from Hadoop Path URI encoding, so the
        # encoded forms agree byte-for-byte.
        out.append(it.next().getPath().toUri().getRawPath())
    return out


_STRIP_SCHEME = r"^[a-zA-Z][a-zA-Z0-9.+-]*:(//[^/]*)?"


def _latest_seen_files(spark: SparkSession, path: str,
                       seen_files_log: str | None) -> list[str]:
    """The backlog snapshot for LATEST: files present at FIRST start.

    Persisted under ``seen_files_log`` (plain text, written through
    Spark so any checkpoint filesystem works): a restart must exclude
    the ORIGINAL backlog only — files that arrived while the pipeline
    was down belong to the stream and are replayed from the checkpoint,
    so re-snapshotting on resume would wrongly drop them.
    """
    if seen_files_log:
        try:
            return [r.value for r in spark.read.text(seen_files_log).collect()]
        except Exception as exc:
            # ONLY path-missing means first start. Any other read
            # failure (permissions, transient FS) must NOT fall
            # through to re-snapshotting: on a resume that would
            # wrongly classify files that arrived during downtime as
            # backlog and drop them.
            msg = str(exc)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
    seen = _list_files_recursive(spark, path)
    if seen_files_log:
        (spark.createDataFrame([(p,) for p in seen], "value string")
         .coalesce(1).write.mode("overwrite").text(seen_files_log))
    return seen


def _exclude_seen_files(spark: SparkSession, df: DataFrame,
                        seen: list[str]) -> DataFrame:
    """Anti-filter the snapshot: stream-static left-outer join on the
    scheme-stripped ``input_file_name`` against a broadcast list of
    snapshot paths (names only — bounded by backlog file COUNT, not
    data size), keep non-matches."""
    if not seen:
        return df
    ex = spark.createDataFrame([(p,) for p in seen], "_gts_seen_file string")
    key = F.regexp_replace(F.input_file_name(), _STRIP_SCHEME, "")
    return (df.withColumn("_gts_src_file", key)
            .join(F.broadcast(ex),
                  F.col("_gts_src_file") == F.col("_gts_seen_file"),
                  "left_outer")
            .where(F.col("_gts_seen_file").isNull())
            .drop("_gts_src_file", "_gts_seen_file"))


def open_stream(spark: SparkSession, cfg: StreamConfig,
                schema: T.StructType | None = None,
                seen_files_log: str | None = None) -> DataFrame:
    """Return an unbounded DataFrame for the configured stream.

    ``seen_files_log``: where to persist the LATEST backlog snapshot
    for file sources (StorePipeline passes a directory next to the
    query checkpoint so resume keeps first-start semantics).
    """
    source = cfg.options.get("source", "file")
    if source == "file":
        path = cfg.options.get("path")
        if not path:
            raise ValueError(f"stream {cfg.stream_name!r}: file source needs options.path")
        fmt = cfg.options.get("format", "json")
        if schema is None:
            raise ValueError("file streaming source requires a declared schema "
                             "(schema-on-read; SURVEY section 1.3)")
        reader = spark.readStream.format(fmt).schema(schema)
        mft = cfg.options.get("max_files_per_trigger")
        if mft:
            reader = reader.option("maxFilesPerTrigger", str(mft))
        if cfg.options.get("start_position", "TRIM_HORIZON") == "LATEST":
            # Real skip (triton.go:197-199 semantics): snapshot the
            # backlog and anti-filter it. latestFirst alone only
            # REORDERS existing files — every backlog file would still
            # be archived.
            seen = _latest_seen_files(spark, path, seen_files_log)
            return _exclude_seen_files(spark, reader.load(path), seen)
        return reader.load(path)
    if source == "kinesis_sim":
        path = cfg.options.get("path")
        if not path:
            raise ValueError(
                f"stream {cfg.stream_name!r}: kinesis_sim needs options.path")
        if schema is None:
            raise ValueError("kinesis_sim requires a declared schema "
                             "(schema-on-read; SURVEY section 1.3)")
        from go_triton_spark.sources.kinesis_sim import register_kinesis_sim
        register_kinesis_sim(spark)
        return (spark.readStream.format("kinesis_sim").schema(schema)
                .option("start_position",
                        cfg.options.get("start_position", "TRIM_HORIZON"))
                .load(path))
    if source == "rate":
        rows_per_sec = str(cfg.options.get("rows_per_second", 1000))
        return (spark.readStream.format("rate")
                .option("rowsPerSecond", rows_per_sec).load())
    if source == "kinesis":
        # Real-AWS adapter: boto3-backed Python DataSource mirroring the
        # reference's GetShardIterator/GetRecords loop (kinesis_boto3.py;
        # triton/stream.go:113-177). boto3 imports lazily at stream
        # start; tests inject a scripted fake via client_factory.
        from go_triton_spark.sources.kinesis_boto3 import \
            register_kinesis_source
        register_kinesis_source(spark)
        reader = (spark.readStream.format("kinesis")
                  .option("stream_name", cfg.stream_name)
                  .option("start_position",
                          cfg.options.get("start_position", "TRIM_HORIZON")))
        for opt in ("region", "endpoint_url", "client_factory",
                    "polls_per_batch", "min_poll_interval"):
            if cfg.options.get(opt):
                reader = reader.option(opt, str(cfg.options[opt]))
        return reader.load()
    raise ValueError(f"unknown stream source type: {source!r}")
