"""``kinesis_sim`` — a shard-parallel streaming Python DataSource that
simulates a Kinesis stream on a directory tree (PySpark 4 DataSource
API, full ``DataSourceStreamReader`` — not the single-threaded Simple
variant).

Layout: ``<root>/<shardId>/<seq>.jsonl`` (or ``.msgpack``: concatenated
msgpack maps, the reference's actual wire format) — one subdirectory
per shard, files appended in sequence order. Payload format is the
``format`` option (``jsonl`` default, ``msgpack``). The mapping onto the
reference (SURVEY §2.1):

- S1 shard scan: each shard directory becomes its own input partition
  every micro-batch — per-shard ordered, cross-shard unordered, exactly
  the reference's read semantics (triton/stream.go:113-177).
- S2 position seek: ``start_position`` option — TRIM_HORIZON reads the
  backlog, LATEST starts from the current end (triton/stream.go:43-61).
- S4 multi-shard merge: Spark unions the per-shard partitions into one
  micro-batch; no ordering across shards, same as the goroutine fan-in
  (triton/stream_reader.go:73-145).
- S7 resume: offsets are ``{shard: files_consumed}`` JSON in the query
  checkpoint — the exact shape of the reference's SQL checkpoint rows
  (client,stream,shard)->seq_num (triton/checkpoint.go:95-103), but
  committed atomically with the sink (exactly-once upgrade).
- Resharding: a new shard directory is discovered at the next
  ``latestOffset`` and starts from 0, like a child shard read from
  TRIM_HORIZON.

Corrupt lines are skipped (S5 semantics, stream_reader.go:174-194);
each record is read into the declared schema by ``codec.decode.coerce``.
For production Kinesis use ``source: kinesis`` (``kinesis_boto3.py``);
this source exists so every pipeline above it can be exercised
end-to-end with real shard-parallel, offset-checkpointed reads.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T


def _list_shards(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d)))


def _shard_files(root: str, shard: str, ext: str = ".jsonl") -> list[str]:
    d = os.path.join(root, shard)
    return sorted(f for f in os.listdir(d) if f.endswith(ext))


class _ShardSlice(InputPartition):
    def __init__(self, root: str, shard: str, begin: int, end: int):
        self.root = root
        self.shard = shard
        self.begin = begin
        self.end = end


class KinesisSimStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("kinesis_sim requires .load(path) (shard dirs)")
        self.schema_ = schema
        self.start_position = options.get("start_position", "TRIM_HORIZON").upper()
        self.fmt = options.get("format", "jsonl").lower()
        if self.fmt not in ("jsonl", "msgpack"):
            raise ValueError(f"kinesis_sim format must be jsonl or msgpack, "
                             f"got {self.fmt!r}")
        self.ext = ".jsonl" if self.fmt == "jsonl" else ".msgpack"

    # offsets are {shard: n_files_consumed}
    def initialOffset(self) -> dict:
        shards = _list_shards(self.root)
        if self.start_position == "LATEST":
            return {s: len(_shard_files(self.root, s, self.ext))
                    for s in shards}
        return {s: 0 for s in shards}

    def latestOffset(self) -> dict:
        return {s: len(_shard_files(self.root, s, self.ext))
                for s in _list_shards(self.root)}

    def partitions(self, start: dict, end: dict):
        out = []
        for shard, hi in end.items():
            lo = start.get(shard, 0)  # new shard: from TRIM_HORIZON
            if hi > lo:
                out.append(_ShardSlice(self.root, shard, lo, hi))
        # Spark requires >= 1 partition per batch; empty batch -> no-op slice
        return out or [_ShardSlice(self.root, "", 0, 0)]

    def read(self, part: _ShardSlice) -> Iterator[tuple]:
        from go_triton_spark.codec.decode import coerce

        if not part.shard:
            return
        fields = self.schema_.fields
        ctx = [{"shard": part.shard, "field": f.name} for f in fields]
        names = _shard_files(part.root, part.shard, self.ext)
        for fname in names[part.begin:part.end]:
            fpath = os.path.join(part.root, part.shard, fname)
            for rec in self._records(fpath):
                yield tuple(coerce(rec.get(f.name), f.dataType, context=c)
                            for f, c in zip(fields, ctx))

    def _records(self, fpath: str):
        if self.fmt == "jsonl":
            with open(fpath) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue  # corrupt-skip (S5)
                    if isinstance(rec, dict):
                        yield rec
        else:
            # concatenated msgpack maps: the reference wire format
            # (decode per stream_reader.go:173; skip semantics :174-194)
            from go_triton_spark.codec.tri import unpack_maps

            with open(fpath, "rb") as fh:
                yield from unpack_maps(fh.read())

    def commit(self, end: dict) -> None:
        pass


class KinesisSimDataSource(DataSource):
    """Shard-directory Kinesis simulator (streaming read only)."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self):
        raise ValueError("kinesis_sim needs an explicit .schema(...) "
                         "(schema-on-read; SURVEY §1.3)")

    def streamReader(self, schema: T.StructType) -> KinesisSimStreamReader:
        return KinesisSimStreamReader(self.options, schema)


def register_kinesis_sim(spark) -> None:
    spark.dataSource.register(KinesisSimDataSource)
