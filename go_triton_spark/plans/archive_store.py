"""Canonical archive store: Parquet partitioned by (stream, client, date, hour).

Replaces the reference's S3 ``YYYYMMDD/<stream>-<client>-<ts>.tri``
layout (triton/store.go:97-104) with a partitioned Parquet table:

    <root>/stream=<s>/client=<c>/date=YYYYMMDD/hour=HH/part-*.snappy.parquet

What this buys at 100 TB:
- partition pruning on date/hour replaces the reference's day-prefix
  S3 listing (triton/store_reader.go:55-67) — and has no 1000-key
  truncation bug (store_reader.go:84-87)
- column pruning + predicate pushdown to parquet row groups (the
  reference always reads whole objects)
- vectorized columnar scans instead of record-at-a-time msgpack

Replay-order fidelity (SURVEY S15/S16): every ingested row carries
``_archive_sort`` (ingest unix ts) so ``cat`` can reproduce the
reference's strict (date, file-ts) ordering with an explicit orderBy —
plain ``spark.read`` is unordered by contract.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_PARTITION_COLS = ["stream", "client", "date", "hour"]

#: SQL confs that change the schema parquet inference reads off a footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def parquet_schema_key(spark: SparkSession, files: list[str]) -> tuple | None:
    """Cache key for the schema Spark would infer from the parquet data
    files ``files``: with ``mergeSchema`` off it reads only the
    path-sorted first data file (``ParquetUtils.splitFiles``), so
    (path, size, mtime) of that file and the inference confs fix the
    schema. Part files are immutable (job-unique names; compact writes
    new ones), and a rewritten file changes size or mtime. None when
    that first file is not a parquet file or inference would merge
    every footer; the caller then lets Spark infer."""
    first = min(files, default="")
    if not first.endswith(".parquet") or \
            spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    try:
        st = os.stat(first)
    except OSError:
        return None     # raced an expire: infer, the plan retries
    return (first, st.st_size, st.st_mtime_ns,
            tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))


def coerce_date(d: "_dt.date | str") -> _dt.date:
    """Accept a date, an ISO string (2026-08-14), or the reference's
    compact form (20260814) — the CLI always parses, but library
    callers reasonably pass strings."""
    if isinstance(d, _dt.datetime):
        return d.date()
    if isinstance(d, _dt.date):
        return d
    s = str(d).strip()
    if "-" in s:
        return _dt.date.fromisoformat(s)
    return _dt.datetime.strptime(s, "%Y%m%d").date()


def list_dates_from_range(start: _dt.date, end: _dt.date) -> list[_dt.date]:
    """Expand [start, end] inclusive into days.

    Mirrors triton/store_reader.go:13-29 (which panics on start>end; we
    raise ValueError).
    """
    start, end = coerce_date(start), coerce_date(end)
    if start > end:
        raise ValueError("invalid date range: start after end")
    out = []
    d = start
    while d <= end:
        out.append(d)
        d += _dt.timedelta(days=1)
    return out


#: Grace of compaction's bookkeeping, in seconds: a per-hour lock older
#: than this belongs to a crashed holder, a file retired longer ago than
#: this has no reader left, and staging dirs or tombstones older than
#: this are crash residue. It must exceed the worst single-hour rewrite
#: and the longest read of a listed file.
_GRACE_S = 3600.0

#: per-hour commit marker; the ``_`` prefix keeps it out of every data
#: listing (Spark's and ``cat``'s)
_MARKER = "_compacted.json"
#: name prefix of every compaction output: one that no marker names (in
#: flight, or left by a crash) is never read
_OUTPUT_PREFIX = "compacted-"


def _read_marker(hour_dir: str) -> "dict | None":
    """The hour's commit marker as ``{"outputs": {name, ...},
    "retired": {name: retired_at}}``; None when the hour was never
    compacted. A marker that does not parse raises ValueError: any
    guess at the live set could drop or double rows."""
    path = os.path.join(hour_dir, _MARKER)
    try:
        with open(path) as fh:
            text = fh.read()
    except FileNotFoundError:
        return None
    try:
        m = json.loads(text)
        return {"outputs": set(m["outputs"]),
                "retired": {n: float(at) for n, at in m["retired"].items()}}
    except (ValueError, KeyError, TypeError, AttributeError) as exc:
        raise ValueError(f"corrupt compaction marker {path}: {exc}") from exc


def _write_marker(hour_dir: str, marker: dict) -> None:
    """Commit ``marker`` for the hour: write a temp file, then
    ``os.replace`` it over the old one, so a reader opens either the
    old marker or the new one, never a torn one."""
    tmp = os.path.join(hour_dir, f".{_MARKER}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump({"outputs": sorted(marker["outputs"]),
                   "retired": marker["retired"]}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(hour_dir, _MARKER))


def _live_files(names: list[str], marker: "dict | None") -> list[str]:
    """The visibility rule, and its only home. Of an hour's entry
    ``names``, a visible parquet file is live when the marker names it
    as an output, or when it is neither a compaction output nor
    retired. So a rewrite is invisible until its marker commits, and
    a part file that lands at any time (a sink batch, a backfill
    ingest) is live until a compaction retires it."""
    outputs, retired = ((marker["outputs"], marker["retired"])
                        if marker else ((), {}))
    return [n for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
            and (n in outputs
                 or not (n.startswith(_OUTPUT_PREFIX) or n in retired))]


def _holds_committed_parts(root: str) -> bool:
    """Does ``root`` contain any VISIBLE parquet part file (hidden
    dirs/files pruned, the same rules Spark listings apply)? The
    ingest staging sweep uses it to decide quarantine-vs-delete."""
    for _base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                return True
    return False


def _move_parts(staging: str, root: str) -> None:
    """Rename every visible part file under ``staging`` to the same
    relative path under ``root``: the commit step of every staged
    write. Names are job-unique (part-<uuid>) and each rename is
    same-filesystem atomic, so a reader sees a file whole or not at
    all. A file already moved is gone from ``staging``, so a second
    call after a failure finishes the move without repeating any."""
    for base, dirs, files in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel = os.path.relpath(base, staging)
        for fn in files:
            if fn.startswith((".", "_")) or not fn.endswith(".parquet"):
                continue
            dest_dir = root if rel == "." else os.path.join(root, rel)
            os.makedirs(dest_dir, exist_ok=True)
            os.rename(os.path.join(base, fn), os.path.join(dest_dir, fn))


def _write_partitioned(df: DataFrame, path: str, mode: str) -> None:
    # ``commit_batch`` reads the ``_SUCCESS`` file as "the staged write
    # completed", so it is written whatever the cluster's conf says
    (df.write.mode(mode)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .partitionBy(*_PARTITION_COLS)
        .parquet(path))


def _sink_prefix(stream: str, client: str) -> str:
    """Name prefix of the live store's per-batch staging dirs (the
    batch id follows it). The backfill ingest's sweep (``.ingest_tmp.``)
    and compact's (``._compact_tmp.``) never match it."""
    return f".sink_tmp.{stream}-{client}."


def _hadoop_subdirs(spark: SparkSession, path: str) -> list[str]:
    """Child directory NAMES of ``path`` via the Hadoop FileSystem API —
    the scheme-agnostic twin of ``os.listdir`` that makes the cat
    listing-level pruning work on object stores (s3a://, gs://, ...),
    not just local disk. One listStatus call, driver-side, O(children
    of one dir) — never a recursive tree walk. Returns [] when the
    path does not exist."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName()
                  for st in fs.listStatus(jpath) if st.isDirectory())


class _VanishedMidWalk(FileNotFoundError):
    """An IN-RANGE date/hour dir disappeared between listdir calls of
    one pruning walk (a concurrent ``expire`` rmtree). The walk must
    not return the half-built mid-state — callers re-list fresh, which
    converges to the consistent post-expire view (dates expire took
    simply stop being listed). Fail-loud-or-heal, never
    silently-fewer-rows."""


def _stable_listdir(path: str) -> list[str]:
    """``os.listdir`` with a TORN-ENUMERATION guard.

    A directory enumeration is not atomic against a concurrent
    rename + rmtree (``expire`` tombstoning a date): the in-flight
    getdents can return an EMPTY (or partial) view of a name that was
    replaced under it — with no error, and an empty hour silently
    drops its rows (r10 matrix soak). Guard: snapshot (st_ino,
    st_mtime_ns) before and after the listdir — any change means the
    name was replaced or an entry landed/left mid-enumeration, so the
    walk must re-list fresh."""
    before = os.stat(path)
    names = sorted(os.listdir(path))
    after = os.stat(path)
    if (before.st_ino, before.st_mtime_ns) \
            != (after.st_ino, after.st_mtime_ns):
        raise _VanishedMidWalk(
            f"{path} changed during enumeration (a writer raced the "
            f"walk); re-listing")
    return names


def _prune_retrying(prune, attempts: int = 8):
    """Run a pruning walk, re-listing from scratch when it observes a
    mid-walk removal. Bounded: a pathological expire loop still ends
    in a loud error, never a silent partial listing."""
    last: Exception | None = None
    for _ in range(attempts):
        try:
            return prune()
        except _VanishedMidWalk as exc:
            last = exc
    raise last


def _drop_tombstone(path: str) -> None:
    """Delete an expired date's tombstone: a second walk if the first
    is torn, already-gone counts as done, anything left raises."""
    import shutil

    err = None
    for _pass in (0, 1):
        try:
            shutil.rmtree(path)
            return
        except OSError as exc:
            err = exc
        if not os.path.lexists(path):
            return
    raise OSError(f"expire: {path} survived two deletion passes") from err


class ArchiveStore:
    """Batch-side archive table: ingest + replay ("cat") over the
    path-based parquet layout above — listing-level pruning,
    marker-committed compaction, rmtree expiry."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # stream -> (parquet_schema_key, data schema); see cat
        self._schema_cache: dict[str, tuple[tuple, StructType]] = {}

    # ------------------------------------------------------------- write

    def ingest_dataframe(self, df: DataFrame, stream: str, client: str,
                         when: _dt.datetime | None = None) -> None:
        """Append records to the archive under processing-time date/hour.

        Date is *processing* day, not event time, exactly like the
        reference (README.md:54-56, triton/store.go:86).
        """
        if when is None:
            when = _dt.datetime.now(tz=_dt.timezone.utc)
        ts = int(when.timestamp())
        out = (
            df.withColumn("stream", F.lit(stream))
            .withColumn("client", F.lit(client))
            .withColumn("date", F.lit(when.strftime("%Y%m%d")))
            .withColumn("hour", F.lit(when.strftime("%H")))
            # cast: F.lit(int) infers INT32 for epoch seconds, but the
            # live store stamps INT64 (unix_timestamp) — mixed
            # physical types across archive files break any read that
            # touches the column (vectorized reader refuses the
            # narrow->wide convert per file)
            .withColumn("_archive_sort", F.lit(ts).cast("long"))
        )
        if "://" in self.root:
            # object stores: the engine-native writer owns the commit
            # protocol
            _write_partitioned(out, self.root, "append")
            return
        # CONCURRENT-APPEND SAFETY on local parquet roots (r10
        # expire-compact matrix find): two batch appends to the SAME
        # root share Hadoop's {root}/_temporary staging, and the first
        # job's cleanupJob recursively DELETES it — killing the second
        # job's in-flight task files (loud TASK_WRITE_FAILED here; on
        # a cluster a commit racing the delete can "succeed" having
        # moved NOTHING — silent loss). Each ingest therefore writes
        # to its own hidden staging dir (its private _temporary lives
        # inside) and then RENAMES the part files into the shared
        # partition tree: names are job-unique (part-<uuid>), renames
        # are same-filesystem atomic, and a crash leaves only hidden
        # residue reaped by the inline age-gated sweep below (NOT
        # _sweep_stale_staging — that one owns compact's residue).
        import shutil
        import warnings

        # sweep CRASH residue of prior ingests (age-gated like the
        # compact staging sweep; fresh dirs belong to live jobs).
        # Residue that still holds COMMITTED part files may be the
        # only staged copy of rows a mid-rename failure never moved
        # (r11 advice) — quarantine it out of the sweep prefix with a
        # warning; only part-free wreckage (_temporary scratch from a
        # crashed write) is deleted.
        try:
            now = time.time()
            for name in os.listdir(self.root):
                if not name.startswith(".ingest_tmp."):
                    continue
                p = os.path.join(self.root, name)
                try:
                    if now - os.path.getmtime(p) <= _GRACE_S:
                        continue
                except OSError:
                    continue    # vanished: a concurrent sweep got it
                if _holds_committed_parts(p):
                    qname = name.replace(".ingest_tmp.",
                                         ".ingest_quarantine.")
                    try:
                        os.rename(p, os.path.join(self.root, qname))
                    except OSError:
                        qname = name    # rename failed: warn in place
                    warnings.warn(
                        f"stale ingest staging {self.root}/{qname} "
                        "still holds committed part files — a prior "
                        "ingest failed mid-move and these may be the "
                        "only staged copy of unmoved rows; reconcile "
                        "manually (never auto-deleted)",
                        RuntimeWarning, stacklevel=2)
                else:
                    shutil.rmtree(p, ignore_errors=True)
        except FileNotFoundError:
            pass    # first-ever ingest: root created by the write below
        staging = os.path.join(
            self.root, f".ingest_tmp.{os.getpid():x}_{uuid.uuid4().hex[:8]}")
        # On FAILURE the staging dir is deliberately LEFT IN PLACE
        # (r11 advice): the rename loop is non-atomic across part
        # files, so a mid-loop error (e.g. concurrent expire removed
        # the destination date dir) leaves some files live and some
        # staged. Deleting the staged remainder would force the loud
        # retry to re-ingest EVERYTHING, duplicating the already-moved
        # rows; preserving it lets an operator (or a smarter retry)
        # complete the move instead. The age-gated sweep above reaps
        # part-free wreckage after an hour and QUARANTINES (with a
        # warning) residue that still holds committed part files —
        # hidden names never list, so readers are unaffected either
        # way, and the only staged copy is never silently destroyed.
        _write_partitioned(out, staging, "overwrite")
        try:
            _move_parts(staging, self.root)
        except Exception as exc:
            # name the preserved staging dir NOW (r11 advice): the
            # age sweep above quarantines rather than deletes it, but
            # the recovery window should not expire unannounced
            warnings.warn(
                f"ingest failed mid-move; staged part files preserved "
                f"in {staging} for recovery (the next ingest's sweep "
                "quarantines, never deletes, non-empty residue)",
                RuntimeWarning, stacklevel=2)
            # machine-readable twin of the warning: a smarter retry
            # (or the race-matrix recovery leg) completes the move
            # from exc.triton_staging_dir instead of re-ingesting
            # everything and duplicating the already-moved rows
            exc.triton_staging_dir = staging
            raise
        shutil.rmtree(staging, ignore_errors=True)

    def commit_batch(self, df: DataFrame, stream: str, client: str,
                     batch_id: int) -> None:
        """Commit micro-batch ``batch_id`` of the live store, exactly once.

        ``df`` already carries the partition columns, stamped from the
        batch's processing time (``StorePipeline``). The batch is
        written to the hidden staging dir
        ``.sink_tmp.<stream>-<client>.<batch_id>`` under the root, its
        part files are renamed into the partition tree (``_move_parts``,
        the move ``ingest_dataframe`` makes), and then the write's
        ``_SUCCESS`` file is renamed to ``_DONE``. The staging dir is
        thus in one of three states, and Spark reruns a batch whose
        commit it never logged under the same id:

        - ``_DONE``: the batch is in the archive; the rerun does nothing;
        - ``_SUCCESS``: the write completed, the move may not have; the
          rerun finishes the move from the same staged files;
        - neither: nothing of the batch is visible; the rerun writes it.

        So no row lands twice, and a staged batch keeps the date/hour
        it was first written under. Spark commits batch N-1 before it
        plans batch N, so batch N first deletes this stream-client's
        older staging dirs: only the last batch's dir stays.

        URI roots (object stores) have no atomic rename: the batch
        appends through Spark's writer, and a rerun after a crash can
        append it again (at-least-once, the reference's own guarantee,
        store.go:51-67).
        """
        if "://" in self.root:
            _write_partitioned(df, self.root, "append")
            return
        self.drop_sink_staging(stream, client, below=batch_id)
        staging = os.path.join(self.root,
                               f"{_sink_prefix(stream, client)}{batch_id}")
        done = os.path.join(staging, "_DONE")
        written = os.path.join(staging, "_SUCCESS")
        if os.path.exists(done):
            return
        if not os.path.exists(written):
            # overwrite clears what a crash mid-write left
            _write_partitioned(df, staging, "overwrite")
        _move_parts(staging, self.root)
        os.rename(written, done)

    def drop_sink_staging(self, stream: str, client: str,
                          below: int | None = None) -> None:
        """Delete the live store's staging dirs of ``stream``/``client``
        whose batch id is below ``below``; all of them when None, for a
        checkpoint that has planned no batch yet, whose ids restart at
        0 and would otherwise meet an abandoned checkpoint's dirs."""
        import shutil

        if "://" in self.root or not os.path.isdir(self.root):
            return
        prefix = _sink_prefix(stream, client)
        for name in os.listdir(self.root):
            n = name[len(prefix):]
            if (name.startswith(prefix) and n.isdigit()
                    and (below is None or int(n) < below)):
                shutil.rmtree(os.path.join(self.root, name),
                              ignore_errors=True)

    # -------------------------------------------------------------- read

    def cat(self, stream: str, start_date: _dt.date, end_date: _dt.date | None = None,
            client: str | None = None, ordered: bool = True) -> DataFrame:
        """Batch replay: the reference's ``triton cat`` (triton.go:282-366).

        - date-range partition pruning (S12/S13): the ``date BETWEEN``
          predicate prunes at the file listing, verified by
          PartitionFilters in the scan node
        - client consistency guard (S14): if ``client`` is None and the
          range holds >1 client, raise (the reference errors the same
          way, triton/store_reader.go:90-99). On a local root the
          pruning walk below already names the ``client=`` dir of
          every part file the scan reads; when that is at most one
          client, no row can name a second, so the guard costs no
          Spark job. Only a listing with >1 client or a URI root runs
          the row-level ``distinct().limit(2)`` check.
        - manifest order (S15/S16): orderBy(date, _archive_sort) when
          ``ordered``; skip it for analytical consumers that don't need
          replay fidelity (saves a global sort)

        Read path: DIRECTORY LISTING. Every writer of a part file (the
        live store's micro-batches, backfill ingest, ``compact``) stages
        it in a hidden dir and renames it into the partition tree whole,
        so a listed file is never one still being written. The walk
        reads the ``stream=`` subdirs (``basePath`` keeps the partition
        columns), never the root: an archive written by older code
        still holds a streaming sink's ``_spark_metadata`` manifest,
        and reading the root would let Spark restrict the scan to the
        files it names, hiding batch-ingested rows and failing after a
        ``compact`` (the manifest names the old files). A ``compact``
        never fails a cat: the pruning walk reads each hour's commit
        marker before it lists the hour and keeps only the live files
        (``_live_files``), so a fresh cat reads the compaction's
        outputs and a cat planned earlier keeps reading the retired
        files, which stay on disk for the grace. The read deliberately
        does NOT set ``ignoreCorruptFiles``: it converts ANY per-file
        read error — including schema mismatches — into silent row
        loss (measured: a stray INT32
        ``_archive_sort`` made an ordered cat silently drop every
        INT64 file, 280 -> 180 rows, while count() said 280). Replay
        integrity fails loudly instead.

        Schema cache: with ``mergeSchema`` off Spark infers the data
        schema from the path-sorted first part file, with a one-task
        job per read. Part files are immutable, so the schema inferred
        once is kept per stream, keyed on that first file's path, size
        and mtime and on the inference confs (``parquet_schema_key``),
        and handed back through ``.schema(...)`` while the key holds.
        Partition columns stay out of it, so Spark still infers them
        from the paths. A new first file (an earlier hour, a compacted
        hour) misses and re-infers; one entry per stream keeps the
        cache bounded.
        """
        start_date = coerce_date(start_date)
        end_date = coerce_date(end_date) if end_date else start_date
        wanted = {d.strftime("%Y%m%d")
                  for d in list_dates_from_range(start_date, end_date)}
        if not os.path.isdir(self.root) and "://" not in self.root:
            raise FileNotFoundError(
                f"archive root {self.root!r} does not exist — nothing has "
                f"been stored yet (run the store pipeline first)")
        stream_dir = os.path.join(self.root, f"stream={stream}")
        # MANUAL PARTITION PRUNING AT THE LISTING LEVEL: enumerate the
        # in-range date dirs ourselves and hand Spark only those paths.
        # Reading stream_dir would make InMemoryFileIndex list the
        # WHOLE archive before Catalyst prunes — O(all partitions ever)
        # listing cost to replay one day, and a retention `expire`
        # rmtree-ing an old date MID-LISTING kills a reader of a
        # completely different range. Pruned, a cat never touches
        # dates it doesn't read.
        is_uri = "://" in self.root
        if is_uri:
            # object stores have no os.listdir; the Hadoop FS twin
            # keeps the pruning (round-6 — previously a URI root read
            # the whole stream subtree: O(archive) listing per replay)
            def _subdirs(p):
                return _hadoop_subdirs(self.spark, p)
        else:
            def _subdirs(p):
                # torn-enumeration guard here too: expire/compact churn
                # dentries in these dirs, and a torn client/date listing
                # silently drops a whole date (same class as the hour
                # walk — see _stable_listdir)
                try:
                    return _stable_listdir(p)
                except _VanishedMidWalk:
                    raise
                except (FileNotFoundError, NotADirectoryError):
                    # NotADirectoryError keeps the old isdir() guard's
                    # behavior: a stray FILE named like a partition dir
                    # reads as empty, it doesn't crash every cat
                    return []
        def _prune() -> tuple[list[str], bool]:
            pruned: list[str] = []
            exists = (bool(_subdirs(stream_dir)) if is_uri
                      else os.path.isdir(stream_dir))
            if exists:
                cdirs = ([f"client={client}"] if client is not None else
                         [n for n in _subdirs(stream_dir)
                          if n.startswith("client=")])
                for cname in cdirs:
                    cpath = os.path.join(stream_dir, cname)
                    for dname in _subdirs(cpath):
                        if (dname.startswith("date=")
                                and dname[len("date="):] in wanted):
                            pruned.append(os.path.join(cpath, dname))
            if pruned and not is_uri:
                # LOCAL PATHS: hand Spark explicit FILE paths, not the
                # date dirs. Only this walk knows which files of an
                # hour are live (a compacted hour also holds retired
                # files and maybe unnamed outputs), and Spark's own
                # listing SWALLOWS a mid-listing FileNotFoundException
                # (an expire removing the dir), returning an empty
                # hour: silent row loss (r9 four-way soak). The
                # torn-readdir guard (_stable_listdir) and the
                # post-plan verification below cover what is left of
                # that race: a racing expire either heals via a fresh
                # re-list or fails LOUDLY; nothing is ever silently
                # dropped. One marker open and one listdir per hour
                # dir, driver-side — the cost Spark's own listing pays.
                files: list[str] = []
                for ddir in pruned:
                    try:
                        hours = _stable_listdir(ddir)
                    except FileNotFoundError as exc:
                        # ddir is IN the requested range by construction
                        # (wanted is the prune condition), so the only
                        # legitimate remover is a concurrent expire.
                        # Skipping it here would hand back a half-walked
                        # mid-state (dates listed before the rmtree kept,
                        # this one silently dropped) — raise the
                        # retryable marker instead; the fresh re-list
                        # converges to the consistent post-expire view
                        # (r9-verdict: the old comment overstated the
                        # safety of a silent continue).
                        raise _VanishedMidWalk(str(exc)) from exc
                    for hname in hours:
                        if hname.startswith((".", "_")):
                            continue
                        hdir = os.path.join(ddir, hname)
                        try:
                            # marker FIRST: a listing taken before a
                            # compaction's outputs landed, paired with
                            # the marker that names them, would drop
                            # the hour. Marker-then-list yields the old
                            # live set or the new one; both are on disk
                            marker = _read_marker(hdir)
                            names = _stable_listdir(hdir)
                        except (FileNotFoundError, NotADirectoryError) \
                                as exc:
                            # same contract as the date dir above:
                            # compact never removes an hour dir, so a
                            # vanished one is an expire/external
                            # removal — re-list fresh, don't skip
                            raise _VanishedMidWalk(str(exc)) from exc
                        files.extend(os.path.join(hdir, n)
                                     for n in _live_files(names, marker))
                if files:
                    return files, exists
            return pruned, exists

        pruned, stream_exists = _prune_retrying(_prune)
        if pruned or stream_exists or is_uri:
            # planning (listing + schema inference from a footer) can
            # race an expire: the listed file is gone by the time its
            # footer is opened. Driver-side and cheap — re-list fresh
            # and retry instead of surfacing the transient.
            last: Exception | None = None
            for _attempt in range(3):
                # the shared FileStatusCache serves STALE listings for
                # a path read before new micro-batch files landed; a
                # replay of a live archive must list fresh every time
                self.spark.catalog.refreshByPath(stream_dir)
                if _attempt:
                    # the failed path may be GONE (expire rmtree'd a
                    # pruned date dir mid-plan) — retrying the stale
                    # list would fail 3x on the same path; re-derive
                    pruned, stream_exists = _prune_retrying(_prune)
                    if not (pruned or stream_exists or is_uri):
                        # stream vanished entirely between attempts:
                        # same semantics as the unknown-stream branch
                        src = self.spark.read.parquet(self.root)
                        last = None
                        break
                key = parquet_schema_key(self.spark, pruned)
                cached = self._schema_cache.get(stream, (None, None))
                hit = key is not None and cached[0] == key
                try:
                    # when no in-range partitions exist on local disk
                    # (or on an object store), read the stream subtree
                    # — empty-after-filter results keep the schema of
                    # the existing files
                    reader = self.spark.read.option("basePath", self.root)
                    if hit:
                        reader = reader.schema(cached[1])
                    src = reader.parquet(*(pruned or [stream_dir]))
                    if pruned and pruned[0].endswith(".parquet"):
                        # POST-PLAN VERIFICATION (r10 matrix soak,
                        # sink-compact pair): handing Spark explicit
                        # file paths is NOT enough — InMemoryFileIndex
                        # stats each path at planning and SILENTLY
                        # DROPS ones an expire deleted in the
                        # listdir-to-plan window (it swallows the
                        # FileNotFoundException with a log warning, the
                        # same swallow class the r9 fix closed one
                        # level up). Reproduced: a cat lost an entire
                        # hour with zero errors ~1 per 30 compactions. The
                        # planned set must equal the handed set; any
                        # shortfall re-lists fresh. After planning,
                        # execution-time vanishes stay LOUD
                        # (ignoreMissingFiles=false default).
                        want = {os.path.basename(p) for p in pruned}
                        got = {os.path.basename(p)
                               for p in src.inputFiles()}
                        if got != want:
                            last = FileNotFoundError(
                                "FileNotFound: planning dropped "
                                f"{sorted(want - got)[:3]} (expire "
                                "raced the plan); re-listing")
                            continue
                    if key is not None and not hit:
                        self._schema_cache[stream] = (key, StructType(
                            [f for f in src.schema.fields
                             if f.name not in _PARTITION_COLS]))
                    last = None
                    break
                except Exception as exc:  # noqa: BLE001
                    msg = str(exc)
                    # UNABLE_TO_INFER_SCHEMA joins the retryable set:
                    # on a live archive it means the plan's listing
                    # raced an expire / ingest commit into seeing
                    # zero readable footers — the same transient class
                    # as a vanished path, healed by a fresh re-list.
                    # A genuinely empty stream still errors after the
                    # attempts are exhausted, exactly as before.
                    if ("FileNotFound" not in msg
                            and "FILE_NOT_EXIST" not in msg
                            and "PATH_NOT_FOUND" not in msg
                            and "UNABLE_TO_INFER_SCHEMA" not in msg):
                        raise
                    last = exc
            if last is not None:
                # final PATH_NOT_FOUND on an object-store stream_dir
                # (no local isdir() probe exists there): fall back to
                # the root read — an unknown stream returns an empty
                # result through the filters. URI roots ONLY: a local
                # path that still fails after fresh re-lists is a real
                # integrity problem, and an O(archive) root scan would
                # hide it (round-7 advice)
                if not is_uri:
                    raise last
                src = self.spark.read.parquet(self.root)
        else:
            # unknown stream: keep the old root read (returns an empty
            # result through the filters rather than a listing error)
            src = self.spark.read.parquet(self.root)
        listed = None
        if pruned and pruned[0].endswith(".parquet"):
            # the scan reads exactly these files, so its rows carry no
            # client but these files' client= dirs
            listed = {p[len(stream_dir) + 1:].split(os.sep, 1)[0]
                      for p in pruned}
        return self._filter_cat(src, stream, start_date, end_date,
                                client, ordered, listed)

    def _filter_cat(self, src: DataFrame, stream: str,
                    start_date: _dt.date, end_date: _dt.date,
                    client: str | None, ordered: bool,
                    listed: "set[str] | None" = None) -> DataFrame:
        """Cat tail: range/stream/client filters, the S14 guard,
        replay ordering.
        ``listed``: the ``client=`` dirs of every file ``src`` scans,
        when known; at most one of them answers the guard without a
        job."""
        df = (
            src
            .where((F.col("stream") == stream)
                   & (F.col("date") >= start_date.strftime("%Y%m%d"))
                   & (F.col("date") <= end_date.strftime("%Y%m%d")))
        )
        if client is not None:
            df = df.where(F.col("client") == client)
        elif listed is None or len(listed) > 1:
            clients = [r[0] for r in df.select("client").distinct().limit(2).collect()]
            if len(clients) > 1:
                raise ValueError(
                    f"Multiple clients for stream {stream!r} in range; "
                    f"specify one of {sorted(clients)}")
        if ordered:
            df = df.orderBy("date", "_archive_sort")
        return df.drop(*_PARTITION_COLS)

    def cat_json(self, *args, **kwargs) -> DataFrame:
        """``cat`` projected to line-per-record JSON (S17, triton.go:351-366)."""
        df = self.cat(*args, **kwargs)
        cols = [c for c in df.columns if not c.startswith("_archive")]
        return df.select(F.to_json(F.struct(*cols)).alias("json"))

    # --------------------------------------------------------- maintain

    def compact(self, stream: str, date: _dt.date, client: str,
                target_file_mb: int = 128,
                min_age_hours: float = 1.0) -> dict:
        """Compact one (stream, client, date) slice's small files.

        Streaming ingest writes >= 1 file per micro-batch per hour
        partition; at 100 TB that's the classic small-files problem
        (every downstream scan pays per-file open + listing cost, and
        the NameNode/object-store listing grows unbounded). Compaction
        rewrites each hour partition into ``ceil(bytes/target)``
        files, range-partitioned on ``_archive_sort`` so replay order
        stays file-local (SURVEY S15).

        Safety: the rewrite never deletes what a reader may have
        listed. Each hour is rewritten into a HIDDEN sibling staging
        dir (Spark listings prune dot-prefixed names), the outputs are
        renamed into the hour under the ``compacted-`` prefix, and one
        ``os.replace`` of the hour's ``_compacted.json`` marker commits
        them: it names the live outputs and the retired input files,
        with the time each was retired (``_live_files`` is the rule).
        ``cat`` reads the marker before it lists the hour, so a fresh
        cat reads the outputs plus any part file that landed since,
        and a cat planned before the commit still reads the old files.
        No caller needs a retry. Nothing is deleted at commit: the
        next ``compact`` of the date first deletes the files retired
        more than ``_GRACE_S`` (one hour) ago and the outputs a crash
        left unnamed that are as old, so disk is reclaimed by the next
        compact after the grace. On a real object store use a table
        format (Delta/Iceberg rewrite-files) instead of rename; this
        implementation targets filesystem-backed archives.

        Live-ingest safety (round-5): hour partitions younger than
        ``min_age_hours`` are SKIPPED (counted in ``hours_skipped``).
        The live store keeps adding a small file per micro-batch to the
        wall-clock hour — and a micro-batch that STARTED just before
        rollover still lands in the previous hour shortly after — so a
        rewrite of a hot hour is outdated at the next batch, and each
        cron pass would rewrite the hour again. One hour of grace
        leaves each hour to one rewrite, once its writes have stopped.
        A file that lands mid-compaction stays live: it is neither an
        output nor retired.
        """
        if "://" in self.root:
            # rename-based commits cannot be atomic on object stores
            # (S3 rename = copy+delete, a visible window): refuse
            # rather than emulate them racily
            raise NotImplementedError(
                "compact is rename-based and needs a real filesystem, "
                f"not the URI root {self.root!r}")
        date = coerce_date(date)
        slice_dir = os.path.join(
            self.root, f"stream={stream}", f"client={client}",
            f"date={date.strftime('%Y%m%d')}")
        if not os.path.isdir(slice_dir):
            raise FileNotFoundError(f"no archive partition at {slice_dir}")
        hot_cutoff = (_dt.datetime.now(tz=_dt.timezone.utc)
                      - _dt.timedelta(hours=min_age_hours))
        stats = {"hours": 0, "hours_skipped": 0, "hours_vanished": 0,
                 "hours_contended": 0, "hours_locked": 0,
                 "files_before": 0, "files_after": 0, "bytes": 0}
        for hour_name in sorted(os.listdir(slice_dir)):
            hour_dir = os.path.join(slice_dir, hour_name)
            if not (os.path.isdir(hour_dir) and hour_name.startswith("hour=")):
                continue
            part_end = _dt.datetime(
                date.year, date.month, date.day,
                int(hour_name[len("hour="):]),
                tzinfo=_dt.timezone.utc) + _dt.timedelta(hours=1)
            if part_end > hot_cutoff:
                stats["hours_skipped"] += 1
                continue
            try:
                self._compact_hour(hour_dir, target_file_mb, stats)
            except Exception as exc:  # noqa: BLE001 — classified below
                # a concurrent `expire` may rmtree this DATE between
                # the hour listing and any step of the rewrite (the
                # retention cron runs next to the compaction cron by
                # design). If the hour is gone, that's retention
                # winning the race, not an error — count it and move
                # on (round-6 four-way soak found the raw
                # AnalysisException leaking out here). Any failure
                # with the hour still present is real and propagates.
                msg = str(exc)
                vanished_exc = (isinstance(exc, (FileNotFoundError, OSError))
                                or "PATH_NOT_FOUND" in msg
                                or "FileNotFound" in msg)
                if vanished_exc and not os.path.isdir(hour_dir):
                    # retention's delete must stick, but this attempt's
                    # staging is already gone (_compact_hour_locked);
                    # the sweep is AGE-GATED because a fresh staging
                    # dir belongs to a live peer compact. Hidden names
                    # never list, so residue is invisible until reaped
                    parent, base = os.path.split(hour_dir)
                    self._sweep_stale_staging(parent, base)
                    try:
                        if not os.listdir(parent):
                            os.rmdir(parent)
                    except OSError:
                        pass  # repopulated concurrently: leave it
                    stats["hours_vanished"] += 1
                    continue
                missing_file = (isinstance(exc, FileNotFoundError)
                                or "FILE_NOT_EXIST" in msg
                                or "FileNotFound" in msg)
                if missing_file and os.path.isdir(hour_dir):
                    # the hour is still THERE but a listed file is
                    # gone: something outside the hour lock removed it
                    # while this rewrite read (an operator). Nothing
                    # was committed, so
                    # skipping is lossless — count it so operators see
                    # it. STRICTLY missing-file class: a broader
                    # OSError (EACCES/ENOSPC) here is a real failure
                    # and must propagate, not be re-badged
                    stats["hours_contended"] += 1
                    continue
                raise
        return stats

    @staticmethod
    def _sweep_stale_staging(parent: str, base: str) -> None:
        """Remove CRASH leftovers of compact staging (unique-suffixed
        hidden ``._compact_tmp.*`` dirs) older than ``_GRACE_S``. Fresh
        staging belongs to a live concurrent compact and must not be
        touched — an unconditional rmtree of a fixed staging name was
        exactly the cross-process corruption (see
        _compact_hour_locked)."""
        import shutil

        prefix = f".{base}._compact_tmp."
        try:
            names = os.listdir(parent)
        except FileNotFoundError:
            return
        now = time.time()
        for name in names:
            if not name.startswith(prefix):
                continue
            path = os.path.join(parent, name)
            try:
                if now - os.path.getmtime(path) <= _GRACE_S:
                    continue    # fresh: a live concurrent compact owns it
            except OSError:
                continue    # vanished: not ours to clean
            shutil.rmtree(path, ignore_errors=True)

    def _compact_hour(self, hour_dir: str, target_file_mb: int,
                      stats: dict) -> None:
        """Rewrite one hour partition in place (see ``compact``).

        Serialized per hour by an advisory lock file (r12): it
        serialises the read-modify-write of the hour's commit marker.
        Two compacts of one hour would each rewrite the same live set,
        and the later marker would drop the names the earlier one
        wrote — its outputs and the retire times its garbage
        collection goes by. The second compactor skips the hour
        (``stats["hours_locked"]``); the next cron pass retakes it. The
        lock is dot-prefixed (invisible to listings) and stolen after
        ``_GRACE_S`` seconds (must exceed the worst-case single-hour
        rewrite) so a crashed holder never wedges compaction."""
        parent, base = os.path.split(hour_dir)
        lock = self._acquire_hour_lock(parent, base)
        if lock is None:
            stats["hours_locked"] += 1
            return
        lock_path, lock_ino = lock
        try:
            self._compact_hour_locked(hour_dir, target_file_mb, stats)
        finally:
            # ownership-checked release (r12 review): if this rewrite
            # overran the grace, a stealer cleared our lock and a NEW
            # holder may have created its own at the same path — a
            # blind unlink would delete the live peer's lock and let
            # a third compactor in. Only unlink the inode we created.
            try:
                if os.stat(lock_path).st_ino == lock_ino:
                    os.unlink(lock_path)
            except OSError:
                pass    # stolen after a grace overrun: stealer cleared it

    @staticmethod
    def _acquire_hour_lock(parent: str,
                           base: str) -> "tuple[str, int] | None":
        """Best-effort per-hour advisory lock: O_EXCL-create a hidden
        sibling file. Returns ``(lock_path, lock_inode)`` — release
        must verify the inode before unlinking — or None when the
        hour is unavailable this pass.

        Stale (crashed-holder) locks are REMOVED, not retaken: the
        stealer renames the lock to a stealer-unique name (atomic —
        one winner per inode), verifies BY INODE that it grabbed the
        same file it judged stale, unlinks it, and returns None; the
        hour compacts on the next cron pass through the plain O_EXCL
        path. Retaking in-place was a TOCTOU (r12 review): a second
        stealer whose staleness check predates the first stealer's
        re-create would rename the first stealer's FRESH lock away
        and let two compactors into the hour. The grabbed file is
        judged stale-or-live by its OWN mtime (inode comparison is
        porous — a fresh lock routinely reuses the freed inode); a
        live lock grabbed by mistake is restored with os.link —
        which, unlike rename, cannot clobber a third compactor's
        newly created lock."""
        path = os.path.join(parent, f".{base}._compact_lock")
        for _attempt in (0, 1):
            try:
                fd = os.open(path,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
                os.write(fd, f"{os.getpid()}\n".encode())
                ino = os.fstat(fd).st_ino
                os.close(fd)
                return path, ino
            except FileExistsError:
                try:
                    st = os.stat(path)
                except OSError:
                    continue    # holder just released: one more try
                if time.time() - st.st_mtime <= _GRACE_S:
                    return None
                grab = f"{path}.stale.{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(path, grab)
                    grabbed = os.stat(grab)
                except OSError:
                    return None    # lost the steal race
                # judge what we grabbed by ITS OWN mtime age, not by
                # inode identity: a fresh lock created between our
                # stat and rename routinely REUSES the freed inode
                # (observed on ext4/tmpfs — an inode compare passed
                # for a different, live file), but it cannot fake an
                # old mtime
                if time.time() - grabbed.st_mtime <= _GRACE_S:
                    # we grabbed a LIVE lock: put it back without
                    # clobbering anyone (link fails on an existing
                    # path, unlike rename), then yield the hour
                    try:
                        os.link(grab, path)
                    except OSError:
                        pass    # a newer lock exists: theirs stands
                    try:
                        os.unlink(grab)
                    except OSError:
                        pass
                    return None
                try:
                    os.unlink(grab)
                except OSError:
                    pass
                return None    # stale lock cleared: next pass takes it
        return None

    def _compact_hour_locked(self, hour_dir: str, target_file_mb: int,
                             stats: dict) -> None:
        import math
        import shutil

        marker = self._collect_garbage(hour_dir)
        files = _live_files(sorted(os.listdir(hour_dir)), marker)
        nbytes = sum(os.path.getsize(os.path.join(hour_dir, f))
                     for f in files)
        n_out = max(1, math.ceil(nbytes / (target_file_mb * 1024 * 1024)))
        if len(files) > n_out:
            # UNIQUE-PER-ATTEMPT hidden staging (r10): a fixed name let
            # a second attempt's entry rmtree delete the first one's
            # staged output mid-write. The read is PINNED to the live
            # listing: a part file that lands after it is not in
            # `files`, so it is neither rewritten nor retired, and
            # stays live beside the outputs
            parent, base = os.path.split(hour_dir)
            token = f"{os.getpid():x}_{uuid.uuid4().hex[:8]}"
            tmp_dir = os.path.join(parent, f".{base}._compact_tmp.{token}")
            self._sweep_stale_staging(parent, base)
            try:
                (self.spark.read.parquet(
                    *[os.path.join(hour_dir, f) for f in files])
                     .repartitionByRange(n_out, "_archive_sort")
                     .write.parquet(tmp_dir))
                outputs = set()
                for fn in os.listdir(tmp_dir):
                    if fn.endswith(".parquet") and not fn.startswith(
                            (".", "_")):
                        os.rename(os.path.join(tmp_dir, fn), os.path.join(
                            hour_dir, _OUTPUT_PREFIX + fn))
                        outputs.add(_OUTPUT_PREFIX + fn)
                marker = {"outputs": outputs, "retired": {
                    **marker["retired"], **dict.fromkeys(files, time.time())}}
                _write_marker(hour_dir, marker)
            finally:
                # `expire` may have dropped the date mid-rewrite, and
                # the write's mkdirs re-created ``date=...`` around the
                # staging: removing it lets the vanished-hour branch of
                # ``compact`` rmdir the date. A failure with the hour
                # present leaves unnamed outputs, reaped after the grace
                shutil.rmtree(tmp_dir, ignore_errors=True)
        stats["hours"] += 1
        stats["files_before"] += len(files)
        stats["files_after"] += len(
            _live_files(os.listdir(hour_dir), marker))
        stats["bytes"] += nbytes

    @staticmethod
    def _collect_garbage(hour_dir: str) -> dict:
        """Delete what no reader can still hold: files retired more
        than ``_GRACE_S`` ago, and compaction outputs that the marker
        does not name and that are as old (left by a crash before the
        commit). Then rewrite the marker without the deleted names —
        delete first, so a crash in between leaves a name for a
        missing file, which does no harm. Returns the hour's marker as
        it now stands (empty for a never-compacted hour)."""
        marker = _read_marker(hour_dir) or {"outputs": set(), "retired": {}}
        outputs, retired = marker["outputs"], marker["retired"]
        now = time.time()
        expired = {n for n, at in retired.items() if now - at > _GRACE_S}
        orphans = [n for n in os.listdir(hour_dir)
                   if n.startswith(_OUTPUT_PREFIX) and n not in outputs
                   and n not in retired and now - os.path.getmtime(
                       os.path.join(hour_dir, n)) > _GRACE_S]
        for n in [*expired, *orphans]:
            try:
                os.unlink(os.path.join(hour_dir, n))
            except FileNotFoundError:
                pass    # deleted before a crash kept its name
        if expired:
            marker["retired"] = {n: at for n, at in retired.items()
                                 if n not in expired}
            _write_marker(hour_dir, marker)
        return marker

    def expire(self, stream: str, client: str, keep_after: _dt.date) -> dict:
        """Retention: drop whole date partitions strictly older than
        ``keep_after``. Partition-dir deletion only — never a scan, so
        cost is O(partitions dropped), not O(data); the 100 TB
        lifecycle job this models runs daily next to ``compact``. The
        reference has no retention at all (archives accumulate in S3
        forever); this is north-star data-lifecycle surface.
        """
        slice_dir = os.path.join(
            self.root, f"stream={stream}", f"client={client}")
        cutoff = coerce_date(keep_after).strftime("%Y%m%d")
        stats = {"dropped": 0, "kept": 0}
        if "://" in self.root:
            # object stores: partition-dir DELETION is valid there
            # (unlike rename-based compact) — Hadoop FS twin of the
            # local walk (round-6; previously a URI root silently
            # no-op'd and retention never ran)
            jvm = self.spark._jvm
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            for name in _hadoop_subdirs(self.spark, slice_dir):
                if not name.startswith("date="):
                    continue
                if name[len("date="):] < cutoff:
                    p = jvm.org.apache.hadoop.fs.Path(
                        os.path.join(slice_dir, name))
                    p.getFileSystem(hconf).delete(p, True)
                    stats["dropped"] += 1
                else:
                    stats["kept"] += 1
            return stats
        if not os.path.isdir(slice_dir):
            return stats
        for name in sorted(os.listdir(slice_dir)):
            if name.startswith(".date=") and "._expired." in name:
                # an interrupted expire's tombstone; an hour's grace
                # keeps this off one a live peer is still deleting
                born = name.rsplit("._expired.", 1)[1].split(".")[0]
                if born.isdigit() and time.time() - int(born) > _GRACE_S:
                    _drop_tombstone(os.path.join(slice_dir, name))
                continue
            if not name.startswith("date="):
                continue
            if name[len("date="):] < cutoff:
                # Rename the date to a hidden tombstone, then delete
                # that. A compact of the same date works by path under
                # ``date=...``: once the rename lands, its lock and
                # staging creates fail with FileNotFoundError instead of
                # re-adding entries mid-walk (deleting in place let it
                # re-create ``._compact_lock`` between passes and fail
                # expire), and nothing else knows the tombstone's name.
                # Readers never list hidden names. A peer expire that
                # renamed the date first already won: counted dropped.
                tomb = os.path.join(
                    slice_dir, f".{name}._expired.{int(time.time())}."
                    f"{uuid.uuid4().hex[:8]}")
                try:
                    os.rename(os.path.join(slice_dir, name), tomb)
                except FileNotFoundError:
                    pass
                else:
                    _drop_tombstone(tomb)
                stats["dropped"] += 1
            else:
                stats["kept"] += 1
        return stats
