"""Streaming store pipeline tests: ingest, resume, stats, corrupt-skip.

Mirrors the reference scenarios (SURVEY section 5): multi-shard merge ->
multi-file source; checkpoint resume; corrupt records skipped while
later good records flow.
"""

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from go_triton_spark.config import load_config
from go_triton_spark.engine import TritonEngine
from go_triton_spark.streaming.store import StorePipeline
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc


def _write_events_json(dirpath, records):
    os.makedirs(dirpath, exist_ok=True)
    fname = os.path.join(dirpath, f"batch-{len(os.listdir(dirpath))}.json")
    with open(fname, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    return fname


def _recs(n, start=0):
    return [{"event_id": i, "ts": "2020-01-01T00:00:00Z", "user_id": i % 7,
             "event_type": "click", "value": float(i), "props": "{}"}
            for i in range(start, start + n)]


@pytest.fixture()
def engine(spark, tmp_path):
    cfg = load_config(f"""
events:
  name: events
  partition_key: user_id
  source: file
  format: json
  path: {tmp_path}/incoming/events
""")
    return TritonEngine(spark, str(tmp_path), config=cfg, client="archive")


def test_store_pipeline_end_to_end(engine, tmp_path):
    _write_events_json(f"{tmp_path}/incoming/events", _recs(20))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    today = dt.datetime.now(tz=UTC).date()
    out = engine.cat("events", today)
    assert out.count() == 20
    assert set(r[0] for r in out.select("event_id").collect()) == set(range(20))


def test_store_pipeline_resume_exactly_once(engine, tmp_path):
    src = f"{tmp_path}/incoming/events"
    _write_events_json(src, _recs(10))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    # new data arrives; restart with same checkpoint -> only new rows added
    _write_events_json(src, _recs(5, start=100))
    pipe2 = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe2.await_once()
    pipe2.stop()
    today = dt.datetime.now(tz=UTC).date()
    out = engine.cat("events", today)
    assert out.count() == 15  # no duplicates of the first 10


def test_corrupt_json_records_skipped(engine, tmp_path):
    """PERMISSIVE json source: bad lines null out, good records flow
    (reference: decode error -> skip, stream_reader.go:174-194)."""
    src = f"{tmp_path}/incoming/events"
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "mixed.json"), "w") as f:
        f.write(json.dumps(_recs(1)[0]) + "\n")
        f.write("NOT JSON AT ALL{{{\n")
        f.write(json.dumps(_recs(1, start=5)[0]) + "\n")
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    today = dt.datetime.now(tz=UTC).date()
    out = engine.cat("events", today).where(F.col("event_id").isNotNull())
    assert sorted(r[0] for r in out.select("event_id").collect()) == [0, 5]


def test_stats_checkpoint_age(engine, tmp_path):
    _write_events_json(f"{tmp_path}/incoming/events", _recs(3))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    stats = engine.stats()
    assert stats, "expected at least one checkpoint stat"
    key = next(iter(stats))
    assert key.startswith("archive.events.") and key.endswith(".age")
    assert 0 <= stats[key] < 3600


def test_checkpoint_sqlite_mirror(engine, tmp_path):
    """Opt-in SQL mirror: reference DDL + upsert semantics
    (triton/checkpoint.go:27-76,95-103) readable by an external
    monitor with no Spark session."""
    import sqlite3

    from go_triton_spark.streaming.checkpoints import stats_from_db

    _write_events_json(f"{tmp_path}/incoming/events", _recs(3))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    db = str(tmp_path / "monitor.db")
    n = engine.mirror_checkpoints(db)
    assert n >= 1
    # raw SQL shape matches the reference table exactly
    con = sqlite3.connect(db)
    rows = con.execute(
        "SELECT client, stream, shard, seq_num, updated "
        "FROM triton_checkpoint").fetchall()
    con.close()
    assert len(rows) == n
    client, stream, shard, seq_num, updated = rows[0]
    assert stream == "events" and seq_num.isdigit() and updated > 0
    # age stats via SQL only (external monitor path)
    ages = stats_from_db(db)
    assert ages and all(0 <= v < 3600 for v in ages.values())
    # second mirror is an UPSERT, not duplicate inserts
    assert engine.mirror_checkpoints(db) == n
    con = sqlite3.connect(db)
    assert con.execute(
        "SELECT count(*) FROM triton_checkpoint").fetchone()[0] == n
    con.close()


def test_client_name_dash_rejected(spark, tmp_path):
    from go_triton_spark.config import StreamConfig
    with pytest.raises(ValueError, match="client name"):
        StorePipeline(spark, StreamConfig("s", "k"), "bad-client",
                      str(tmp_path / "a"), str(tmp_path / "c"))


def test_rate_limited_ingest_max_files_per_trigger(spark, tmp_path):
    """S3 parity: the reference rate-limits each shard to one GetRecords
    batch per poll interval (stream.go:38-39); our file source's
    max_files_per_trigger is the equivalent knob — each micro-batch
    consumes a bounded slice of the backlog."""
    cfg = load_config(f"""
events:
  name: events
  partition_key: user_id
  source: file
  format: json
  path: {tmp_path}/incoming/events
  max_files_per_trigger: 1
""")
    eng = TritonEngine(spark, str(tmp_path), config=cfg, client="archive")
    for batch in range(3):
        _write_events_json(f"{tmp_path}/incoming/events", _recs(5, start=batch * 5))
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    # all 15 records land exactly once...
    today = dt.datetime.now(tz=UTC).date()
    out = eng.cat("events", today)
    assert sorted(r[0] for r in out.select("event_id").collect()) == list(range(15))
    # ...and the availableNow drain processed the backlog in multiple
    # bounded micro-batches (1 file each), not one unbounded gulp
    commits = os.listdir(f"{tmp_path}/checkpoints/events-archive/commits")
    assert len([c for c in commits if not c.startswith(".")]) >= 3


def test_stream_stats_progress_monitor(engine, tmp_path):
    """After an ingest the engine reports per-query rows/sec + batch
    durations keyed by query name, read from each pipeline's own last
    progress: the first call may come after the query ran and stopped
    (a listener installed by that call would have seen nothing)."""
    _write_events_json(f"{tmp_path}/incoming/events", _recs(12))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    pipe.stop()     # idempotent, and keeps the stopped query
    stats = engine.stream_stats()
    key = "store-events-archive"
    assert key in stats, stats
    assert stats[key]["num_input_rows"] == 12
    assert "addBatch" in stats[key]["duration_ms"]


def test_stream_stats_reports_a_live_query(engine, tmp_path):
    """A running query answers too, and ``stop_all`` keeps the stopped
    pipelines' last progress."""
    import time

    os.makedirs(f"{tmp_path}/incoming/events")
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=False,
                        trigger_seconds=0.2)
    _write_events_json(f"{tmp_path}/incoming/events", _recs(7))
    key = "store-events-archive"
    deadline = time.time() + 120
    while time.time() < deadline:
        stats = engine.stream_stats()
        if stats.get(key, {}).get("num_input_rows"):
            break
        time.sleep(0.2)
    assert stats[key]["num_input_rows"] == 7, stats
    engine.stop_all()
    assert not pipe.query.isActive
    assert key in engine.stream_stats()


def test_store_failure_reported_once(engine, tmp_path):
    """A failed store query reaches the reporter once, and still fails
    loudly: ``await_once`` and the first ``stop`` raise, a second
    ``stop`` does nothing."""
    from pyspark.errors import StreamingQueryException

    from go_triton_spark.reporting import CollectingReporter

    _write_events_json(f"{tmp_path}/incoming/events", _recs(2))
    open(tmp_path / "archive", "w").close()     # no archive dir can exist
    rep = CollectingReporter()
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True,
                        on_error=rep)
    with pytest.raises(StreamingQueryException):
        pipe.await_once()
    with pytest.raises(StreamingQueryException):
        pipe.stop()
    pipe.stop()
    assert [k for k, _m, _c in rep.events] == ["stream_error"]


def test_store_run_leaves_no_partial_or_manifest_files(spark, tmp_path):
    """What a store run leaves in the archive root: no sink manifest,
    every visible part file complete (parquet trailer), and only the
    last micro-batch's hidden staging dir."""
    cfg = load_config(f"""
events:
  name: events
  partition_key: user_id
  source: file
  format: json
  path: {tmp_path}/incoming/events
  max_files_per_trigger: 1
""")
    eng = TritonEngine(spark, str(tmp_path), config=cfg, client="archive")
    for b in range(3):
        _write_events_json(f"{tmp_path}/incoming/events", _recs(5, b * 5))
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    root = eng.archive.root
    assert eng.cat("events", dt.datetime.now(tz=UTC).date()).count() == 15
    names = os.listdir(root)
    assert "_spark_metadata" not in names
    assert [n for n in names if n.startswith(".sink_tmp.")] == \
        [f".sink_tmp.events-archive.{pipe.query.lastProgress.batchId}"]
    parts = glob.glob(f"{root}/stream=*/**/*.parquet", recursive=True)
    assert len(parts) >= 3
    for p in parts:
        with open(p, "rb") as fh:
            fh.seek(-4, os.SEEK_END)
            assert fh.read(4) == b"PAR1", p


def test_skip_to_latest_file_source_skips_backlog(engine, tmp_path):
    """`store --skip-to-latest` on the DEFAULT file source must really
    skip the backlog (triton.go:197-199) — Spark's latestFirst only
    reorders existing files, so the engine snapshots first-start files
    and anti-filters them. Resume keeps first-start semantics: files
    that arrive later (even while stopped) ARE archived."""
    src = f"{tmp_path}/incoming/events"
    _write_events_json(src, _recs(10))          # backlog, must be skipped
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True,
                        skip_to_latest=True)
    pipe.await_once()
    pipe.stop()
    import glob
    assert glob.glob(f"{tmp_path}/archive/**/*.parquet",
                     recursive=True) == []  # backlog skipped entirely
    today = dt.datetime.now(tz=UTC).date()

    _write_events_json(src, _recs(5, start=100))  # arrives while stopped
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True,
                        skip_to_latest=True)
    pipe.await_once()
    pipe.stop()
    out = engine.cat("events", today)
    assert out.count() == 5  # new file archived, snapshot not re-taken
    assert set(r[0] for r in out.select("event_id").collect()) == \
        set(range(100, 105))


def test_skip_to_latest_excludes_backlog_files_with_spaces(engine, tmp_path):
    """Encoding parity for the LATEST snapshot: input_file_name() is
    percent-encoded ('a b.json' streams as 'a%20b.json'), so the
    snapshot must store the RAW URI path — a decoded snapshot entry
    never matches and the backlog file leaks through LATEST."""
    import json as _json

    src = f"{tmp_path}/incoming/events"
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "old batch [a].json"), "w") as f:
        for r in _recs(4):
            f.write(_json.dumps(r) + "\n")
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True,
                        skip_to_latest=True)
    pipe.await_once()
    pipe.stop()
    import glob
    assert glob.glob(f"{tmp_path}/archive/**/*.parquet", recursive=True) == []
    # and new files (also with spaces) still flow
    with open(os.path.join(src, "new batch [b].json"), "w") as f:
        for r in _recs(3, start=50):
            f.write(_json.dumps(r) + "\n")
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True,
                        skip_to_latest=True)
    pipe.await_once()
    pipe.stop()
    out = engine.cat("events", dt.datetime.now(tz=UTC).date())
    assert set(r[0] for r in out.select("event_id").collect()) == {50, 51, 52}


def test_compact_under_load_no_loss_no_reader_failure(engine, tmp_path, spark):
    """`compact` running next to a LIVE store and concurrent `cat`
    readers (the production shape: a compaction cron against an archive
    that never stops ingesting). Invariants: cold hours get rewritten,
    the live hour is skipped (hot-hour guard — the store keeps adding
    files to it, so a rewrite would be outdated at the next batch),
    readers never fail and never retry (compact deletes no file a
    reader listed, and every writer renames whole files into place),
    counts only grow — staging dirs must never be visible as bogus
    partitions — and nothing is lost."""
    import threading
    import time

    # seed a COLD slice 3 hours back: 6 small files in one hour
    seed_when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=3)
    seed_df = spark.createDataFrame(
        [(r["event_id"], dt.datetime(2020, 1, 1, tzinfo=UTC), r["user_id"],
          r["event_type"], r["value"], r["props"])
         for r in _recs(180, start=1000)], schema=EVENTS_SCHEMA)
    for i in range(6):
        engine.archive.ingest_dataframe(
            seed_df.where(f"event_id % 6 = {i}"), "events", "archive",
            when=seed_when + dt.timedelta(seconds=i))

    src = f"{tmp_path}/incoming/events"
    os.makedirs(src, exist_ok=True)
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=False,
                        trigger_seconds=0.3)
    dates = sorted({seed_when.date(), dt.datetime.now(tz=UTC).date()})
    read_errors, counts = [], []
    stop = threading.Event()

    def one_cat():
        return engine.cat("events", dates[0], dates[-1],
                          client="archive", ordered=False).count()

    def reader():
        while not stop.is_set():
            try:
                counts.append(one_cat())
            except Exception as exc:  # noqa: BLE001 — record, don't die
                read_errors.append(repr(exc))
            time.sleep(0.1)

    rt = threading.Thread(target=reader, daemon=True)
    rt.start()
    compact_stats = []
    try:
        for i in range(5):  # drip live input...
            _write_events_json(src, _recs(20, start=i * 20))
            if i in (1, 3):  # ...with compactions mid-ingest
                for d in dates:
                    compact_stats.append(
                        engine.archive.compact("events", d, "archive"))
            time.sleep(0.4)
        # liveness bound only (the correctness claims are the asserts
        # below) — generous so a co-loaded machine can't starve the
        # drain and masquerade as record loss
        deadline = time.time() + 300
        while time.time() < deadline:
            try:
                if engine.cat("events", dates[0], dates[-1],
                              client="archive").count() >= 280:
                    break
            except Exception:
                pass
            time.sleep(0.3)
        # the live hour certainly exists now (the drain saw its rows),
        # so this compaction deterministically exercises the hot-hour
        # guard — the mid-ingest ones may run before the first live
        # file lands on a slow machine
        for d in dates:
            compact_stats.append(
                engine.archive.compact("events", d, "archive"))
    finally:
        stop.set()
        rt.join(10)
        assert pipe.query.exception() is None, pipe.query.exception()
        pipe.stop()

    out = engine.cat("events", dates[0], dates[-1], client="archive")
    ids = sorted(r[0] for r in out.select("event_id").collect())
    assert ids == sorted(list(range(100)) + list(range(1000, 1180))), \
        f"record loss/dup: {len(ids)} rows"
    assert not read_errors, f"reader failed during compaction: {read_errors[:3]}"
    assert counts == sorted(counts), "a cat saw fewer rows than an earlier cat"
    rewrote = [s for s in compact_stats
               if s["hours"] and s["files_after"] < s["files_before"]]
    assert rewrote, f"no compaction actually rewrote files: {compact_stats}"
    assert any(s["hours_skipped"] >= 1 for s in compact_stats), \
        "live hour was not skipped by the hot-hour guard"


def test_mixed_batch_and_streaming_archive_replays_uniformly(engine, tmp_path):
    """An archive written by BOTH the streaming store and batch
    ingest_dataframe must replay as one table. Before round 5, cat
    honored the streaming sink's _spark_metadata manifest, which
    silently hid every batch-ingested row."""
    _write_events_json(f"{tmp_path}/incoming/events", _recs(10))
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()

    now = dt.datetime.now(tz=UTC)
    batch_df = engine.spark.createDataFrame(
        [(r["event_id"], dt.datetime(2020, 1, 1, tzinfo=UTC), r["user_id"],
          r["event_type"], r["value"], r["props"])
         for r in _recs(7, start=500)], schema=EVENTS_SCHEMA)
    engine.archive.ingest_dataframe(batch_df, "events", "archive", when=now)

    out = engine.cat("events", now.date(), client="archive")
    ids = sorted(r[0] for r in out.select("event_id").collect())
    assert ids == sorted(list(range(10)) + list(range(500, 507)))


def _child_pids(pid):
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with open(path) as f:
            kids += [int(k) for k in f.read().split()]
    return kids


def _alive(pid):
    """True while `pid` runs (a zombie awaiting its reaper has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_kill_nine_mid_ingest_no_record_loss(spark, tmp_path):
    """Crash semantics, for real: SIGKILL the `store` CLI process
    mid-run (no drain), write more input while it is down, then
    resume from the same checkpoint in-process. The claim under test
    is EXACTLY-ONCE, an upgrade on the reference's at-least-once
    (triton/store.go:51-67): nothing is lost and nothing lands twice.
    The batch in flight at the kill reruns under its batch id and
    finishes or redoes its hidden staging; nothing of it was visible
    before its move."""
    import signal
    import subprocess
    import sys as _sys
    import time

    cfgfile = tmp_path / "triton.yaml"
    cfgfile.write_text(f"""
events:
  name: events
  partition_key: user_id
  source: file
  format: json
  path: {tmp_path}/incoming/events
""")
    src = f"{tmp_path}/incoming/events"
    for b in range(4):
        _write_events_json(src, _recs(15, start=b * 15))

    # the checkout under test, not whatever tree the cwd or an
    # installed package would resolve
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ,
               TRITON_CONFIG=str(cfgfile),
               TRITON_ROOT=str(tmp_path),
               TRITON_CLIENT="archive",
               PYTHONPATH=os.pathsep.join(
                   p for p in (root, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.Popen(
        [_sys.executable, "-m", "go_triton_spark.cli", "store",
         "--stream", "events"],
        env=env, cwd=root,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    archive_dir = tmp_path / "archive" / "stream=events"

    def committed():
        return (list(archive_dir.rglob("*.parquet"))
                if archive_dir.exists() else [])

    deadline = time.time() + 180
    try:
        while time.time() < deadline and not committed():
            assert proc.poll() is None, \
                "store subprocess died before first commit"
            time.sleep(0.5)
        assert committed(), "no micro-batch committed within 180s"
        jvms = _child_pids(proc.pid)
    finally:
        proc.send_signal(signal.SIGKILL)  # crash, not a drain
    proc.wait(30)
    # The orphaned gateway JVM lives on until it reads EOF, and may
    # commit one more batch meanwhile; restarting on the same
    # checkpoint before it exits fails with
    # SparkConcurrentModificationException. Wait it out, as an
    # operator must after a kill -9 of `store`.
    deadline = time.time() + 60
    while time.time() < deadline and any(map(_alive, jvms)):
        time.sleep(0.05)
    assert not any(map(_alive, jvms)), \
        f"store's JVM {jvms} outlived the kill by 60s"

    # records arriving while the process is down
    _write_events_json(src, _recs(10, start=100))

    eng = TritonEngine(spark, str(tmp_path),
                       config=load_config(cfgfile.read_text()),
                       client="archive")
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()

    today = dt.datetime.now(tz=UTC).date()
    ids = [r[0] for r in eng.cat("events", today)
           .select("event_id").collect()]
    expect = set(range(60)) | set(range(100, 110))
    assert set(ids) == expect, (
        f"records lost across kill -9: missing {sorted(expect - set(ids))[:10]}")
    dups = len(ids) - len(set(ids))
    assert dups == 0, f"{dups} rows landed twice across kill -9"


def test_store_compact_expire_cat_four_way_concurrency(engine, tmp_path, spark):
    """The full maintenance shape at once (round-6 soak): a LIVE store
    ingesting, a compaction loop, a retention (expire) loop, and cat
    readers — all concurrent. The r5 drives ran compact-under-load and
    expire-under-read separately; this exercises their interactions:

    - expire may rmtree the OLD date WHILE compact is rewriting it:
      either order is fine (compact succeeds first, or fails loudly on
      the vanished slice) but nothing may corrupt the surviving dates
      and expire must win eventually.
    - readers replay only the KEPT range; invariants are the documented
      ones: no reader error, counts over the kept range monotone
      non-decreasing, zero loss at drain.
    """
    import threading
    import time

    now = dt.datetime.now(tz=UTC)
    old_when = now - dt.timedelta(days=5)     # expiry target
    cold_when = now - dt.timedelta(hours=3)   # compaction target

    def _seed(when, start, n, files):
        df = spark.createDataFrame(
            [(r["event_id"], dt.datetime(2020, 1, 1, tzinfo=UTC),
              r["user_id"], r["event_type"], r["value"], r["props"])
             for r in _recs(n, start=start)], schema=EVENTS_SCHEMA)
        for i in range(files):
            engine.archive.ingest_dataframe(
                df.where(f"event_id % {files} = {i}"), "events", "archive",
                when=when + dt.timedelta(seconds=i))

    _seed(old_when, 5000, 60, 3)
    _seed(cold_when, 1000, 120, 6)

    src = f"{tmp_path}/incoming/events"
    os.makedirs(src, exist_ok=True)
    pipe = engine.store("events", schema=EVENTS_SCHEMA, once=False,
                        trigger_seconds=0.3)
    kept_lo, kept_hi = cold_when.date(), now.date()
    cutoff = (now - dt.timedelta(days=2)).date()

    stop = threading.Event()
    read_errors, counts, maint_errors = [], [], []

    def one_cat():
        return engine.cat("events", kept_lo, kept_hi,
                          client="archive", ordered=False).count()

    def reader():
        while not stop.is_set():
            try:
                counts.append(one_cat())
            except Exception as exc:  # noqa: BLE001
                read_errors.append(repr(exc))
            time.sleep(0.1)

    def compactor():
        targets = [old_when.date(), cold_when.date(), now.date()]
        while not stop.is_set():
            for d in targets:
                try:
                    engine.archive.compact("events", d, "archive")
                except FileNotFoundError:
                    pass  # expire won the race on the old date — loud+clean
                except Exception as exc:  # noqa: BLE001
                    maint_errors.append("compact: " + repr(exc))
            time.sleep(0.3)

    def expirer():
        while not stop.is_set():
            try:
                engine.archive.expire("events", "archive", cutoff)
            except Exception as exc:  # noqa: BLE001
                maint_errors.append("expire: " + repr(exc))
            time.sleep(0.25)

    threads = [threading.Thread(target=f, daemon=True)
               for f in (reader, compactor, expirer)]
    for t in threads:
        t.start()
    try:
        for i in range(5):
            _write_events_json(src, _recs(20, start=i * 20))
            time.sleep(0.35)
        deadline = time.time() + 300  # liveness bound only, co-load-safe
        while time.time() < deadline:
            try:
                if one_cat() >= 220:  # 120 cold + 100 live
                    break
            except Exception:
                pass
            time.sleep(0.3)
    finally:
        stop.set()
        for t in threads:
            t.join(15)
        assert pipe.query.exception() is None, pipe.query.exception()
        pipe.stop()

    # nothing in the kept range lost or duplicated
    out = engine.cat("events", kept_lo, kept_hi, client="archive")
    ids = sorted(r[0] for r in out.select("event_id").collect())
    assert ids == sorted(list(range(100)) + list(range(1000, 1120))), \
        f"kept-range loss/dup: {len(ids)} rows"
    # retention won: the old date is gone from disk
    old_dir = os.path.join(str(tmp_path), "archive", "stream=events",
                           "client=archive",
                           f"date={old_when.strftime('%Y%m%d')}")
    assert not os.path.isdir(old_dir), "expired date still on disk"
    assert not read_errors, f"reader failures: {read_errors[:3]}"
    assert not maint_errors, f"maintenance failures: {maint_errors[:3]}"
    assert counts == sorted(counts), "a cat saw fewer rows than before"
