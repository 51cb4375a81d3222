"""``spark.read.format("tri")`` / ``df.write.format("tri")`` — the
package's .tri archive reader and writer, a registered Python
DataSource (PySpark 4 DataSource API).

The schema is declared with ``.schema(...)`` (.tri records are
schemaless msgpack maps; ``codec.decode.coerce`` reads each one into
it). A batch read makes one input partition per archive file (the
reference's unit of parallelism — one S3 object,
triton/archive.go:27-43). The streaming mode tails a directory in
archive-key order, the file-backed stand-in for a Kinesis shard
iterator (SURVEY S1/S2: each new file plays the role of a GetRecords
batch; the stream offset is the count of files consumed, persisted in
the query checkpoint exactly where the reference kept
(shard -> seq_num) rows in SQL, triton/checkpoint.go:27-76).

A declared schema may name the key columns ``_archive_path``,
``_archive_date`` (``YYYYMMDD``) and ``_archive_sort`` (the key's
unix-ts suffix); they are filled from each file's key for replay-order
fidelity (SURVEY S15). Paths are local filesystem paths.

Registration is per-session: ``register_tri_datasource(spark)``. The
decode runs in the Python data-source worker (Arrow-batched back to the
JVM); at 100 TB this is scan -> narrow decode with no shuffle.
Canonical storage remains Parquet — this format exists for legacy .tri
data at the edges; re-write it with ``archive_store.ingest_dataframe``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql import types as T


def _list_tri_files(path: str) -> list[str]:
    """All .tri files under ``path``, in (date, sort-value) archive
    order (triton/store_reader.go:36-52 semantics: lexicographic key
    order equals chronological order for the reference's key grammar).
    Hidden names (``.``/``_`` prefix: staged writes, job residue) are
    skipped, as Hadoop file listings do."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".tri") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _key_columns(fpath: str) -> dict:
    """The ``_archive_*`` columns of one file, parsed from its key
    (``.../YYYYMMDD/<stream>-<client>-<unixts>.tri``); a file whose
    name does not parse keeps its path and nulls."""
    from go_triton_spark.codec.tri import parse_key_name

    try:
        ak = parse_key_name("/".join(fpath.split(os.sep)[-2:]))
        date, sort = ak.t.strftime("%Y%m%d"), ak.sort_value
    except ValueError:
        date = sort = None
    return {"_archive_path": fpath, "_archive_date": date,
            "_archive_sort": sort}


def _decode_file(fpath: str, schema: T.StructType) -> Iterator[tuple]:
    """Decode one archive into schema-ordered tuples (corrupt-skip)."""
    # local imports: this body runs inside the Python data-source
    # worker, which pickles the reader object by value
    from go_triton_spark.codec.decode import coerce
    from go_triton_spark.codec.tri import read_tri_bytes

    key_cols = {k: v for k, v in _key_columns(fpath).items()
                if k in schema.names}
    ctx = [{"file": fpath, "field": f.name} for f in schema.fields]
    with open(fpath, "rb") as fh:
        data = fh.read()
    for rec in read_tri_bytes(data, on_corrupt="skip"):
        rec.update(key_cols)
        yield tuple(coerce(rec.get(f.name), f.dataType, context=c)
                    for f, c in zip(schema.fields, ctx))


class _TriFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TriBatchReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("tri datasource requires .load(path)")
        self.schema_ = schema

    def partitions(self):
        return [_TriFilePartition(p) for p in _list_tri_files(self.root)]

    def read(self, partition: _TriFilePartition) -> Iterator[tuple]:
        return _decode_file(partition.path, self.schema_)


class TriStreamReader(SimpleDataSourceStreamReader):
    """Directory-tailing micro-batch reader. Offset = number of files
    consumed from the sorted listing; new files append strictly after
    (hourly-rotated keys sort by time). Replays are exact: the same
    offset range always names the same files."""

    def __init__(self, options, schema: T.StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("tri datasource requires .load(path)")
        self.schema_ = schema

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def read(self, start: dict):
        files = _list_tri_files(self.root)
        begin = start["n_files"]
        rows: list[tuple] = []
        for f in files[begin:]:
            rows.extend(_decode_file(f, self.schema_))
        return iter(rows), {"n_files": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _list_tri_files(self.root)
        rows: list[tuple] = []
        for f in files[start["n_files"]:end["n_files"]]:
            rows.extend(_decode_file(f, self.schema_))
        return iter(rows)


class TriDataSource(DataSource):
    """.tri archive format (batch + streaming read)."""

    @classmethod
    def name(cls) -> str:
        return "tri"

    def schema(self):
        raise ValueError(
            "tri datasource needs an explicit .schema(...) — .tri files "
            "are schemaless msgpack maps (SURVEY §1.3: schema-on-read)")

    def reader(self, schema: T.StructType) -> TriBatchReader:
        return TriBatchReader(self.options, schema)

    def simpleStreamReader(self, schema: T.StructType) -> TriStreamReader:
        return TriStreamReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError("tri writer is append-only (archives are "
                             "immutable, SURVEY S8); use mode('append')")
        return TriBatchWriter(self.options, schema)


def register_tri_datasource(spark) -> None:
    spark.dataSource.register(TriDataSource)


@dataclass
class TriCommitMessage(WriterCommitMessage):
    staged: str | None = None
    final: str | None = None


class TriBatchWriter(DataSourceWriter):
    """``df.write.format("tri")`` — one reference-keyed archive file per
    input partition (the writer analogue of S8/S9: partition = rotation
    unit, key grammar per triton/store.go:97-104). Files are written to
    a staging name and renamed on commit; abort removes staged files,
    so a failed job leaves no partial archives."""

    def __init__(self, options, schema):
        self.root = options.get("path")
        self.stream = options.get("stream", "stream")
        self.client = options.get("client", "archive")
        if not self.root:
            raise ValueError("tri writer requires .save(path)")
        if "-" in self.client:
            raise ValueError("client name cannot contain '-' (key "
                             "delimiter, triton.go:224-227)")
        self.schema_ = schema
        ts = options.get("unix_ts")
        self.base_ts = int(ts) if ts else None

    def write(self, iterator) -> TriCommitMessage:
        import datetime as _dt

        from pyspark import TaskContext

        from go_triton_spark.codec.tri import write_tri_bytes

        pid = TaskContext.get().partitionId()
        base = self.base_ts
        if base is None:
            base = int(_dt.datetime.now(tz=_dt.timezone.utc).timestamp())
        when = _dt.datetime.fromtimestamp(base, tz=_dt.timezone.utc)
        names = [f.name for f in self.schema_.fields]
        recs = []
        for row in iterator:
            recs.append({n: row[n] for n in names if row[n] is not None})
        if not recs:
            return TriCommitMessage()
        key = (f"{when.strftime('%Y%m%d')}/"
               f"{self.stream}-{self.client}-{base + pid}.tri")
        full = os.path.join(self.root, key)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        staged = full + ".staged"
        with open(staged, "wb") as f:
            f.write(write_tri_bytes(recs))
        return TriCommitMessage(staged=staged, final=full)

    def commit(self, messages) -> None:
        for m in messages:
            if getattr(m, "staged", None):
                os.rename(m.staged, m.final)

    def abort(self, messages) -> None:
        for m in messages:
            if getattr(m, "staged", None) and os.path.exists(m.staged):
                os.remove(m.staged)
