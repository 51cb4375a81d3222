"""Checkpoint compatibility: the ``triton_checkpoint`` view + stats.

Structured Streaming already checkpoints offsets/commits at
``checkpointLocation`` — the engine needs no SQL checkpoint table. A
batch whose commit is not logged reruns under the same batch id, and
the store's batch commit (``ArchiveStore.commit_batch``) lands each
batch id once, so the archive is exactly-once. This module exists for parity with the
reference's monitoring surface:

- ``triton_checkpoint`` view (triton/checkpoint.go:95-103 DDL):
  (client, stream, shard, seq_num, updated) — materialized from the
  Spark commit log (one row per source partition, seq = last committed
  batch id).
- ``stats`` (S18, triton/checkpoint.go:127-151): per key
  "<client>.<stream>.<shard>.age" = now - updated seconds.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("client", T.StringType(), False),
    T.StructField("stream", T.StringType(), False),
    T.StructField("shard", T.StringType(), False),
    T.StructField("seq_num", T.StringType(), False),
    T.StructField("updated", T.LongType(), False),
])


def _scan_checkpoint_dir(checkpoint_root: str) -> list[tuple]:
    """Read Spark offset logs under <root>/<stream>-<client>/offsets/*."""
    rows = []
    if not os.path.isdir(checkpoint_root):
        return rows
    for qdir in sorted(os.listdir(checkpoint_root)):
        parts = qdir.rsplit("-", 1)
        if len(parts) == 2:
            stream, client = parts
        else:
            stream, client = qdir, ""
        offsets_dir = os.path.join(checkpoint_root, qdir, "offsets")
        if not os.path.isdir(offsets_dir):
            continue
        batches = [f for f in os.listdir(offsets_dir) if f.isdigit()]
        if not batches:
            continue
        latest = max(batches, key=int)
        path = os.path.join(offsets_dir, latest)
        updated = int(os.path.getmtime(path))
        rows.append((client, stream, "batch", str(latest), updated))
    return rows


def checkpoint_view(spark: SparkSession, checkpoint_root: str,
                    view_name: str = "triton_checkpoint") -> DataFrame:
    """Materialize the compat view from streaming checkpoint metadata."""
    df = spark.createDataFrame(_scan_checkpoint_dir(checkpoint_root),
                               schema=_CHECKPOINT_SCHEMA)
    df.createOrReplaceTempView(view_name)
    return df


# Reference DDL, verbatim (triton/checkpoint.go:95-103) — sqlite and
# postgres both accept it, which is exactly the reference's usage.
CREATE_TABLE_STMT = """
CREATE TABLE IF NOT EXISTS triton_checkpoint (
	client VARCHAR(255) NOT NULL,
	stream VARCHAR(255) NOT NULL,
	shard VARCHAR(255) NOT NULL,
	seq_num VARCHAR(255) NOT NULL,
	updated INTEGER NOT NULL,
	PRIMARY KEY (client, stream, shard))
"""


def connect_db(db_url: str):
    """DB-URL scheme dispatch, mirroring the reference's openDB
    (triton.go:58-83): ``sqlite://`` -> stdlib sqlite3,
    ``postgres://`` -> psycopg (v3) or psycopg2, anything else ->
    ValueError ("Unknown db scheme"). A bare path (no scheme) is
    treated as a sqlite file for back-compat with the original
    ``--mirror-db PATH`` form.

    Returns ``(connection, paramstyle_placeholder)`` — the DDL
    (CREATE_TABLE_STMT, verbatim reference bytes) and the upsert
    (``ON CONFLICT (...) DO UPDATE``) are accepted by both dialects,
    so the placeholder is the only per-dialect difference.
    """
    from urllib.parse import urlparse

    u = urlparse(db_url)
    if u.scheme in ("", "sqlite"):
        import sqlite3

        path = (u.netloc + u.path) if u.scheme else db_url
        con = sqlite3.connect(path or "triton.db")
        return con, "?"
    if u.scheme in ("postgres", "postgresql"):
        try:
            import psycopg  # psycopg 3
            con = psycopg.connect(db_url)
        except ImportError:
            try:
                import psycopg2
                con = psycopg2.connect(db_url)
            except ImportError as exc:
                raise RuntimeError(
                    "postgres mirror needs psycopg (v3) or psycopg2 "
                    "installed") from exc
        return con, "%s"
    raise ValueError(f"Unknown db scheme {u.scheme!r} in {db_url!r} "
                     "(expected sqlite:// or postgres://)")


def mirror_to_db(checkpoint_root: str, db_url: str, _con=None,
                 _placeholder: str = "?") -> int:
    """Mirror the checkpoint view into an external SQL table.

    Structured Streaming's own checkpoint (offsets/commits) is the
    source of truth; this OPT-IN mirror exists so external monitors
    that read the reference's ``triton_checkpoint`` table
    (triton/checkpoint.go:95-103) keep working unmodified — sqlite or
    the team's existing postgres checkpoint DB, dispatched by URL
    scheme exactly like the reference (triton.go:58-83). Upsert
    semantics follow Checkpointer.Checkpoint (checkpoint.go:27-76):
    one transaction, insert-or-update keyed on (client, stream,
    shard). Returns the number of rows mirrored.

    ``_con``/``_placeholder`` inject a ready DB-API connection (tests
    use a dialect stub so the postgres statement shapes are covered
    without a server).
    """
    rows = _scan_checkpoint_dir(checkpoint_root)
    con, ph = (_con, _placeholder) if _con is not None else connect_db(db_url)
    try:
        with con:  # single transaction, like the Go Tx
            cur = con.cursor()
            cur.execute(CREATE_TABLE_STMT)
            upsert = (
                "INSERT INTO triton_checkpoint "
                "(client, stream, shard, seq_num, updated) "
                f"VALUES ({ph}, {ph}, {ph}, {ph}, {ph}) "
                "ON CONFLICT (client, stream, shard) DO UPDATE SET "
                "seq_num = excluded.seq_num, updated = excluded.updated")
            cur.executemany(upsert, rows)
    finally:
        con.close()
    return len(rows)


def stats_from_db(db_url: str, client: str | None = None,
                  _con=None, _placeholder: str = "?") -> dict[str, int]:
    """External-monitor ``stats`` (S18) straight from the SQL mirror —
    the reference's GetCheckpointStats shape
    (triton/checkpoint.go:127-151), no Spark session needed. Works
    against sqlite or postgres (age computed client-side from
    ``updated`` so the SQL stays dialect-portable)."""
    con, ph = (_con, _placeholder) if _con is not None else connect_db(db_url)
    try:
        sql = "SELECT client, stream, shard, updated FROM triton_checkpoint"
        args: tuple = ()
        if client:
            sql += f" WHERE client = {ph}"
            args = (client,)
        cur = con.cursor()
        cur.execute(sql, args)
        rows = cur.fetchall()
        now = int(time.time())
        return {f"{c}.{s}.{sh}.age": now - int(up)
                for c, s, sh, up in rows}
    finally:
        con.close()


def checkpoint_stats(spark: SparkSession, checkpoint_root: str,
                     client: str | None = None) -> dict[str, int]:
    """Reference ``triton stats`` output (checkpoint.go:127-151):
    {"<client>.<stream>.<shard>.age": seconds_since_update}."""
    df = checkpoint_view(spark, checkpoint_root)
    if client:
        df = df.where(F.col("client") == client)
    now = int(time.time())
    out = {}
    for r in df.collect():
        out[f"{r['client']}.{r['stream']}.{r['shard']}.age"] = now - r["updated"]
    return out
