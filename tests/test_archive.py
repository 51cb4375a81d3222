"""Archive store + replay (cat) + .tri Spark reader tests."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_triton_spark.codec.tri import write_tri_bytes
from go_triton_spark.plans.archive_store import ArchiveStore, list_dates_from_range
from go_triton_spark.sources.tri_datasource import register_tri_datasource
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc


def test_list_dates_from_range():
    d = dt.date(2015, 7, 1)
    assert list_dates_from_range(d, d) == [d]
    assert len(list_dates_from_range(dt.date(2015, 7, 1), dt.date(2015, 7, 3))) == 3
    with pytest.raises(ValueError):
        list_dates_from_range(dt.date(2015, 7, 2), dt.date(2015, 7, 1))


@pytest.fixture()
def store(spark, tmp_path):
    return ArchiveStore(spark, str(tmp_path / "archive"))


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def test_ingest_and_cat_roundtrip(spark, store, sf_dir):
    ev = _events(spark, sf_dir)
    when = dt.datetime(2015, 6, 30, 2, 45, tzinfo=UTC)
    store.ingest_dataframe(ev, "events", "archive", when=when)
    out = store.cat("events", dt.date(2015, 6, 30))
    assert out.count() == ev.count()
    assert set(ev.columns).issubset(set(out.columns))


def test_cat_date_pruning(spark, store, sf_dir):
    ev = _events(spark, sf_dir).limit(10)
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 29, 5, tzinfo=UTC))
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 30, 5, tzinfo=UTC))
    one_day = store.cat("events", dt.date(2015, 6, 30))
    assert one_day.count() == 10
    both = store.cat("events", dt.date(2015, 6, 29), dt.date(2015, 6, 30))
    assert both.count() == 20
    # partition pruning must reach the scan (not a post-filter)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_cat_uri_root_prunes_at_listing_level(spark, tmp_path, sf_dir):
    """Round-6: the listing-level date pruning must also work on URI
    roots (object stores) via the Hadoop FS listing — a one-day replay
    must touch only that date's files, never list the whole archive
    (and an expire of an out-of-range date can then never race it)."""
    root = "file://" + str(tmp_path / "uri_archive")
    st = ArchiveStore(spark, root)
    ev = _events(spark, sf_dir).limit(8)
    for day in (28, 29, 30):
        st.ingest_dataframe(ev, "events", "archive",
                            when=dt.datetime(2015, 6, day, 5, tzinfo=UTC))
    out = st.cat("events", dt.date(2015, 6, 29))
    assert out.count() == 8
    files = out.inputFiles()
    assert files and all("date=20150629" in f for f in files), files[:3]


def test_compact_refuses_uri_root_with_pointer(spark, tmp_path):
    """Rename swaps cannot be atomic on object stores; compact on a
    URI root must refuse loudly, naming the root it refused."""
    st = ArchiveStore(spark, "file://" + str(tmp_path / "uri_c"))
    with pytest.raises(NotImplementedError, match="real filesystem.*uri_c"):
        st.compact("events", dt.date(2015, 6, 30), "archive")


def test_expire_works_on_uri_root(spark, tmp_path, sf_dir):
    """Retention on a URI (object-store) root: dates strictly older
    than the cutoff are deleted via the Hadoop FS, newer kept —
    previously a URI root silently no-op'd and retention never ran."""
    root = "file://" + str(tmp_path / "uri_exp")
    st = ArchiveStore(spark, root)
    ev = _events(spark, sf_dir).limit(5)
    for day in (20, 21, 22):
        st.ingest_dataframe(ev, "events", "archive",
                            when=dt.datetime(2015, 6, day, 5, tzinfo=UTC))
    stats = st.expire("events", "archive", dt.date(2015, 6, 21))
    assert stats == {"dropped": 1, "kept": 2}
    base = str(tmp_path / "uri_exp")
    assert not os.path.isdir(os.path.join(
        base, "stream=events", "client=archive", "date=20150620"))
    assert st.cat("events", dt.date(2015, 6, 21), dt.date(2015, 6, 22)
                  ).count() == 10


def test_cat_unknown_stream_empty_on_uri_root(spark, tmp_path, sf_dir):
    """Unknown-stream parity across filesystems: on a URI root (here
    file://, the cheapest object-store stand-in — '://' routes cat down
    the no-isdir-probe branch) cat() of a stream that was never stored
    must return an EMPTY result through the filters, exactly like the
    local-path fallback, not raise PATH_NOT_FOUND after the retries."""
    root = tmp_path / "archive_uri"
    st = ArchiveStore(spark, "file://" + str(root))
    ev = _events(spark, sf_dir).limit(5)
    st.ingest_dataframe(ev, "events", "archive",
                        when=dt.datetime(2015, 6, 30, 5, tzinfo=UTC))
    out = st.cat("nosuchstream", dt.date(2015, 6, 30))
    assert out.count() == 0


def test_cat_replay_order(spark, store, sf_dir):
    ev = _events(spark, sf_dir).limit(5)
    # two ingests same day, later ts second — replay must preserve file order
    store.ingest_dataframe(ev.withColumn("event_type", F.lit("first")),
                           "events", "archive",
                           when=dt.datetime(2015, 6, 30, 1, tzinfo=UTC))
    store.ingest_dataframe(ev.withColumn("event_type", F.lit("second")),
                           "events", "archive",
                           when=dt.datetime(2015, 6, 30, 2, tzinfo=UTC))
    rows = store.cat("events", dt.date(2015, 6, 30)).select("event_type").collect()
    kinds = [r[0] for r in rows]
    assert kinds[:5] == ["first"] * 5 and kinds[5:] == ["second"] * 5


def test_cat_client_guard(spark, store, sf_dir):
    ev = _events(spark, sf_dir).limit(3)
    when = dt.datetime(2015, 6, 30, tzinfo=UTC)
    store.ingest_dataframe(ev, "events", "client_a", when=when)
    store.ingest_dataframe(ev, "events", "client_b", when=when)
    with pytest.raises(ValueError, match="Multiple clients"):
        store.cat("events", dt.date(2015, 6, 30))
    assert store.cat("events", dt.date(2015, 6, 30), client="client_a").count() == 3


def _spy_listed(monkeypatch, st):
    """Record the listing-derived client set each cat hands the guard
    (None: the row-level check runs)."""
    seen = []
    real = st._filter_cat

    def spy(*args, **kwargs):
        seen.append(args[6] if len(args) > 6 else kwargs.get("listed"))
        return real(*args, **kwargs)

    monkeypatch.setattr(st, "_filter_cat", spy)
    return seen


def test_cat_client_guard_from_listing(spark, store, sf_dir, monkeypatch):
    """The guard reads the client set off the pruning walk's file
    listing. Two clients with part files in range still raise; a
    second client whose in-range hour holds only hidden files
    contributes no file, so cat answers from the listing
    exactly what the row-level check answers: one client, no error."""
    ev = _events(spark, sf_dir).limit(3)
    when = dt.datetime(2015, 6, 30, 4, tzinfo=UTC)
    store.ingest_dataframe(ev, "events", "client_a", when=when)
    seen = _spy_listed(monkeypatch, store)
    residue = os.path.join(store.root, "stream=events", "client=client_b",
                           "date=20150630", "hour=04")
    os.makedirs(residue)
    for name in (".part-00000-x.c000.snappy.parquet.crash",
                 ".hidden.parquet", "_SUCCESS"):
        open(os.path.join(residue, name), "wb").close()
    out = store.cat("events", when.date())
    assert seen[-1] == {"client=client_a"}
    assert out.count() == 3
    # the row-level check over the same scan gives the same answer
    src = spark.read.option("basePath", store.root).parquet(
        os.path.join(store.root, "stream=events"))
    rows = store._filter_cat(src, "events", when.date(), when.date(),
                             None, False, None)
    assert rows.count() == 3

    # a second client with a real part file in range still raises
    store.ingest_dataframe(ev, "events", "client_b", when=when)
    with pytest.raises(ValueError, match="Multiple clients"):
        store.cat("events", when.date())
    assert seen[-1] == {"client=client_a", "client=client_b"}


def test_cat_client_guard_row_level_on_uri_and_manifest_roots(
        spark, tmp_path, sf_dir, monkeypatch):
    """Where no file listing exists (a URI root's date-dir read), the
    guard keeps the row-level check: listed is None and two clients
    still raise."""
    ev = _events(spark, sf_dir).limit(3)
    when = dt.datetime(2015, 6, 30, 4, tzinfo=UTC)
    st = ArchiveStore(spark, "file://" + str(tmp_path / "uri"))
    seen = _spy_listed(monkeypatch, st)
    st.ingest_dataframe(ev, "events", "client_a", when=when)
    assert st.cat("events", when.date()).count() == 3
    st.ingest_dataframe(ev, "events", "client_b", when=when)
    with pytest.raises(ValueError, match="Multiple clients"):
        st.cat("events", when.date())
    assert seen == [None, None]


def _fresh_schema(spark, root, stream="events"):
    """The schema an uncached read of every visible part file infers,
    minus the partition columns cat drops."""
    files = []
    for base, dirs, names in os.walk(os.path.join(root, f"stream={stream}")):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        files += [os.path.join(base, n) for n in names
                  if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return (spark.read.option("basePath", root).parquet(*files)
            .drop("stream", "client", "date", "hour").schema)


def test_cat_schema_cache_tracks_the_first_file(spark, store, sf_dir):
    """cat hands Spark a cached data schema while the path-sorted first
    part file is unchanged, and re-infers when it changes: after a
    new batch, after compact replaced the first file, and after an
    ingest into an earlier hour whose file adds a column. Every time
    the schema equals a fresh uncached read's; one entry per stream."""
    ev = _events(spark, sf_dir).limit(10)
    d = dt.date(2015, 6, 30)
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 30, 5, tzinfo=UTC))
    assert store.cat("events", d).schema == _fresh_schema(spark, store.root)
    key = store._schema_cache["events"][0]

    # a new batch: the cached entry serves (or re-keys) correctly
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 30, 5, tzinfo=UTC))
    assert store.cat("events", d).schema == _fresh_schema(spark, store.root)
    assert store.cat("events", d).count() == 20

    # compact rewrites the hour under new names: the first file changes
    store.compact("events", d, "archive")
    assert store.cat("events", d).schema == _fresh_schema(spark, store.root)
    assert store._schema_cache["events"][0] != key
    assert store.cat("events", d).count() == 20

    # an earlier hour's file sorts first and adds a column
    wide = ev.withColumn("extra", F.lit("x"))
    store.ingest_dataframe(wide, "events", "archive",
                           when=dt.datetime(2015, 6, 30, 1, tzinfo=UTC))
    got = store.cat("events", d).schema
    assert got == _fresh_schema(spark, store.root)
    assert "extra" in got.fieldNames()
    assert store.cat("events", d).where("extra = 'x'").count() == 10

    # a second stream gets its own entry; never more than one each
    store.ingest_dataframe(ev, "other", "archive",
                           when=dt.datetime(2015, 6, 30, 5, tzinfo=UTC))
    store.cat("other", d)
    store.cat("events", d)
    assert sorted(store._schema_cache) == ["events", "other"]


def test_cat_json(spark, store, sf_dir):
    import json
    ev = _events(spark, sf_dir).limit(2)
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 30, tzinfo=UTC))
    rows = store.cat_json("events", dt.date(2015, 6, 30)).collect()
    assert len(rows) == 2
    parsed = json.loads(rows[0]["json"])
    assert "event_id" in parsed


_KEY_FIELDS = [T.StructField("_archive_path", T.StringType()),
               T.StructField("_archive_date", T.StringType()),
               T.StructField("_archive_sort", T.LongType())]


def _tri_frame(spark, path, schema):
    register_tri_datasource(spark)
    return spark.read.format("tri").schema(schema).load(path)


def test_read_tri_spark(spark, tmp_path):
    """format("tri") fills the key columns a declared schema names
    from each file's key (replay order, S15)."""
    recs = [
        {"event_id": i, "ts": dt.datetime(2020, 1, 1, 12, 0, i, tzinfo=UTC),
         "user_id": 100 + i, "event_type": "click", "value": i * 1.5,
         "props": "{}"}
        for i in range(50)
    ]
    day_dir = tmp_path / "tri" / "20200101"
    day_dir.mkdir(parents=True)
    (day_dir / "events-archive-1577880000.tri").write_bytes(write_tri_bytes(recs))
    df = _tri_frame(spark, str(tmp_path / "tri"),
                   T.StructType(EVENTS_SCHEMA.fields + _KEY_FIELDS))
    rows = df.orderBy("event_id").collect()
    assert len(rows) == 50
    assert rows[0]["event_type"] == "click"
    assert rows[1]["value"] == 1.5
    assert rows[0]["_archive_date"] == "20200101"
    assert rows[0]["_archive_sort"] == 1577880000
    assert rows[0]["_archive_path"] == str(
        day_dir / "events-archive-1577880000.tri")
    assert rows[3]["ts"] == dt.datetime(2020, 1, 1, 12, 0, 3)


def test_read_tri_corrupt_file_skips(spark, tmp_path):
    from go_triton_spark.codec.msgpack_codec import packb
    from go_triton_spark.codec.snappy_codec import frame_compress
    day_dir = tmp_path / "tri" / "20200101"
    day_dir.mkdir(parents=True)
    good = [{"event_id": 1, "event_type": "ok"}]
    (day_dir / "events-archive-100.tri").write_bytes(write_tri_bytes(good))
    # corrupt: good record then garbage
    body = frame_compress(packb({"event_id": 2, "event_type": "ok2"}) + b"\xc1junk")
    (day_dir / "events-archive-200.tri").write_bytes(body)
    # hidden names (a staged write, job residue) are never read
    (day_dir / ".events-archive-300.tri").write_bytes(write_tri_bytes(good))
    (day_dir / "_events-archive-400.tri").write_bytes(write_tri_bytes(good))
    df = _tri_frame(spark, str(tmp_path / "tri"), EVENTS_SCHEMA)
    rows = df.orderBy("event_id").collect()
    assert [r["event_id"] for r in rows] == [1, 2]


def test_expire_concurrent_with_cat_of_live_range(spark, store, sf_dir):
    """A retention cron (`expire`) dropping old date partitions must
    not fail readers replaying RECENT dates: Spark's file listing
    treats a directory deleted mid-listing as empty, and pruned-out
    dates are never read. Loops a cat of the kept range while expire
    deletes three old dates."""
    import threading
    import time

    ev = _events(spark, sf_dir).limit(50)
    keep_day = dt.datetime(2026, 8, 10, 12, tzinfo=UTC)
    for off in (30, 20, 10, 0):  # three old dates + the kept one
        store.ingest_dataframe(
            ev, "events", "alpha",
            when=keep_day - dt.timedelta(days=off))
    errors, counts = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(store.cat("events", keep_day.date(),
                                        client="alpha",
                                        ordered=False).count())
            except Exception as exc:  # noqa: BLE001
                errors.append(repr(exc))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    time.sleep(0.3)
    stats = store.expire("events", "alpha",
                         keep_after=keep_day.date())
    # liveness, not correctness: on a co-loaded machine a single
    # cat().count() can outlast the whole expire window — keep the
    # reader alive until it has recorded an observation landing
    # during-or-after the expire
    n0 = len(counts)
    deadline = time.time() + 60
    while len(counts) <= n0 and not errors and time.time() < deadline:
        time.sleep(0.2)
    stop.set()
    t.join(10)
    assert stats == {"dropped": 3, "kept": 1}
    assert not errors, f"cat of the kept range failed during expire: {errors[:3]}"
    assert counts and set(counts) == {50}
    # the expired range reads as empty, not as an error
    assert store.cat("events", (keep_day - dt.timedelta(days=30)).date(),
                     (keep_day - dt.timedelta(days=10)).date(),
                     client="alpha", ordered=False).count() == 0


def test_cat_accepts_string_dates(spark, store, sf_dir):
    """Library callers reasonably pass '2015-06-30' or '20150630'
    where the CLI would have parsed; both must mean the same day."""
    ev = _events(spark, sf_dir).limit(4)
    store.ingest_dataframe(ev, "events", "archive",
                           when=dt.datetime(2015, 6, 30, 2, tzinfo=UTC))
    assert store.cat("events", "2015-06-30").count() == 4
    assert store.cat("events", "20150630", "20150630").count() == 4
    with pytest.raises(ValueError):
        store.cat("events", "2015-07-02", "2015-07-01")


def test_cat_fails_loud_on_trailerless_part_file(spark, store, sf_dir):
    """A visible part file with no parquet trailer is corruption: cat
    refuses ignoreCorruptFiles, so the replay fails loudly instead of
    silently dropping the file's rows. (Every writer stages and
    renames whole files, so a live store never leaves such a file.)"""
    ev = _events(spark, sf_dir).limit(10)
    when = dt.datetime(2015, 6, 30, 2, tzinfo=UTC)
    store.ingest_dataframe(ev, "events", "archive", when=when)
    hour_dir = os.path.join(
        store.root, "stream=events", "client=archive",
        "date=20150630", "hour=02")
    bad = os.path.join(hour_dir, "part-00011-corrupt.c000.snappy.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"PAR1" + b"\x00" * 32)   # header magic, no trailer
    with pytest.raises(Exception, match="PAR1|footer|Parquet|FAILED_READ"):
        store.cat("events", dt.date(2015, 6, 30)).count()


def _sink_batch(spark, ids, when, parts=3):
    """A micro-batch as the store pipeline hands it to commit_batch:
    the partition columns already stamped, ``parts`` part files."""
    return spark.createDataFrame(
        [(i, "events", "live", when.strftime("%Y%m%d"),
          when.strftime("%H"), int(when.timestamp())) for i in ids],
        "event_id long, stream string, client string, date string, "
        "hour string, _archive_sort long").repartition(parts)


def _staging(store, batch_id):
    return os.path.join(store.root, f".sink_tmp.events-live.{batch_id}")


@pytest.mark.parametrize("crash", ["after_write", "mid_move", "after_done"])
def test_commit_batch_rerun_lands_each_row_once(
        spark, store, monkeypatch, crash):
    """Spark reruns a micro-batch whose commit it never logged under
    the same batch id. Whatever point the first attempt died at, the
    rerun (here with DIFFERENT input, which must not be written) leaves
    every original row in the archive exactly once."""
    import go_triton_spark.plans.archive_store as A

    when = dt.datetime(2015, 6, 30, 4, tzinfo=UTC)
    first = list(range(30))
    store.commit_batch(_sink_batch(spark, range(100, 130), when),
                       "events", "live", 6)
    if crash == "after_write":
        def boom(staging, root):
            raise OSError("crash after the staged write")
        monkeypatch.setattr(A, "_move_parts", boom)
    elif crash == "mid_move":
        real_rename, calls = os.rename, {"n": 0}

        def rename(src, dst):
            if "/.sink_tmp." in src and src.endswith(".parquet"):
                calls["n"] += 1
                if calls["n"] == 2:     # one file moved, the rest staged
                    raise OSError("crash mid-move")
            return real_rename(src, dst)
        monkeypatch.setattr(os, "rename", rename)
    if crash == "after_done":
        store.commit_batch(_sink_batch(spark, first, when),
                           "events", "live", 7)
    else:
        with pytest.raises(OSError, match="crash"):
            store.commit_batch(_sink_batch(spark, first, when),
                               "events", "live", 7)
        monkeypatch.undo()
    if crash == "mid_move":
        assert 0 < store.cat("events", when.date()).count() - 30 < 30

    store.commit_batch(_sink_batch(spark, range(500, 530), when),
                       "events", "live", 7)
    ids = sorted(r[0] for r in store.cat("events", when.date())
                 .select("event_id").collect())
    assert ids == first + list(range(100, 130))
    # batch 7 deleted batch 6's staging; its own stays, done
    assert not os.path.exists(_staging(store, 6))
    left = os.listdir(_staging(store, 7))
    assert "_DONE" in left and "_SUCCESS" not in left


def test_fresh_checkpoint_drops_abandoned_sink_staging(spark, tmp_path):
    """A store start whose checkpoint has planned no batch first drops
    the stream-client's staging dirs: the new checkpoint numbers its
    batches from 0, and an abandoned checkpoint's done batch 0 would
    otherwise swallow the new batch 0. Other streams' and clients'
    staging is not touched, and the backfill ingest's age-gated sweep
    of its own staging never touches the live store's."""
    import json
    import time

    from go_triton_spark.config import load_config
    from go_triton_spark.engine import TritonEngine

    src = tmp_path / "incoming" / "events"
    src.mkdir(parents=True)
    (src / "a.json").write_text("".join(
        json.dumps({"event_id": i, "ts": "2020-01-01T00:00:00Z",
                    "user_id": 1, "event_type": "x", "value": 1.0,
                    "props": "{}"}) + "\n" for i in range(4)))
    eng = TritonEngine(spark, str(tmp_path), client="live", config=load_config(
        f"events:\n  name: events\n  source: file\n  format: json\n"
        f"  path: {src}\n"))
    root = eng.archive.root
    abandoned = os.path.join(root, ".sink_tmp.events-live.0")
    others = [os.path.join(root, n) for n in (
        ".sink_tmp.events-other.0", ".sink_tmp.clicks-live.0")]
    for d in [abandoned, *others]:
        os.makedirs(d)
        open(os.path.join(d, "_DONE"), "w").close()
    stale = time.time() - 7200
    os.utime(abandoned, (stale, stale))
    eng.archive.ingest_dataframe(
        spark.range(1).selectExpr("id AS event_id"), "other", "live",
        when=dt.datetime(2015, 6, 30, 1, tzinfo=UTC))
    assert os.path.isdir(abandoned)

    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    today = dt.datetime.now(tz=UTC).date()
    assert eng.cat("events", today).count() == 4
    assert all(os.path.isdir(d) for d in others)


# --- r10 matrix-soak race fixes -------------------------------------------

def test_stable_listdir_detects_concurrent_change(tmp_path, monkeypatch):
    """_stable_listdir must refuse an enumeration that interleaved with
    a directory mutation (torn readdir against a compact swap+rmtree
    returns an EMPTY view with no error — the r10 sink-compact find)."""
    import go_triton_spark.plans.archive_store as A

    d = tmp_path / "hour=05"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x")
    assert A._stable_listdir(str(d)) == ["a.parquet"]

    real_listdir = os.listdir

    def mutating_listdir(path):
        names = real_listdir(path)
        (d / "landed-mid-walk.parquet").write_bytes(b"y")  # mtime bump
        return names

    monkeypatch.setattr(os, "listdir", mutating_listdir)
    with pytest.raises(FileNotFoundError):   # _VanishedMidWalk subclass
        A._stable_listdir(str(d))
    monkeypatch.undo()
    # and a name SWAP (new inode) is likewise refused
    other = tmp_path / "other"
    other.mkdir()

    def swapping_listdir(path):
        names = real_listdir(path)
        os.rename(str(d), str(tmp_path / "gone"))
        os.rename(str(other), str(d))
        return names

    monkeypatch.setattr(os, "listdir", swapping_listdir)
    with pytest.raises(FileNotFoundError):
        A._stable_listdir(str(d))


def test_cat_survives_compact_between_listing_and_plan(
        spark, store, sf_dir, monkeypatch):
    """A compact swap landing in the listdir-to-plan window must not
    silently thin the cat: Spark's InMemoryFileIndex DROPS explicit
    file paths that vanished before its planning stat (swallowed
    FileNotFoundException), so cat verifies the planned file set
    against the handed set and re-lists on any shortfall (r10
    sink-compact soak find — an entire hour vanished with zero
    errors ~1 per 30 swaps before the check)."""
    import go_triton_spark.plans.archive_store as A

    ev = _events(spark, sf_dir).limit(20)
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=3)
    for i in range(6):   # 6 small files -> compact rewrites to 1
        store.ingest_dataframe(
            ev.where(F.col("event_id") % 6 == i), "events", "archive",
            when=when + dt.timedelta(seconds=i))
    expected = store.cat("events", when.date()).count()
    assert expected == 20

    real = A._prune_retrying
    state = {"raced": False}

    def racy(prune, attempts=8):
        res = real(prune, attempts)
        if not state["raced"]:
            state["raced"] = True
            # the race: compact swaps the hour AFTER the listing was
            # taken but BEFORE Spark plans the read
            store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
        return res

    monkeypatch.setattr(A, "_prune_retrying", racy)
    out = store.cat("events", when.date()).count()
    assert state["raced"], "race hook never fired"
    assert out == expected, "cat silently lost rows to the plan race"


def test_sweep_reaps_only_stale_compact_staging(tmp_path):
    """The staging sweep deletes a stale ``._compact_tmp.*`` dir (crash
    residue) and leaves a fresh one alone: a live concurrent compact
    owns it."""
    import time

    parent = tmp_path / "date=20260101"
    parent.mkdir()
    base = "hour=03"
    tmp = parent / f".{base}._compact_tmp.abc_1"
    fresh_tmp = parent / f".{base}._compact_tmp.abc_3"
    for d in (tmp, fresh_tmp):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    stale = time.time() - 7200
    os.utime(tmp, (stale, stale))

    ArchiveStore._sweep_stale_staging(str(parent), base)
    assert not tmp.exists(), "stale tmp staging is crash garbage"
    assert fresh_tmp.exists(), "fresh staging belongs to a live compact"


def test_vanished_hour_branch_spares_live_peer_staging(
        spark, store, sf_dir, monkeypatch):
    """compact's expire-vanished classification must not rmtree FRESH
    peer staging: a live peer compact of the same hour owns it, and
    only staging older than the grace is crash residue (r11 advice
    item 1, medium)."""
    import shutil as _sh

    import go_triton_spark.plans.archive_store as A

    ev = _events(spark, sf_dir).limit(8)
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    store.ingest_dataframe(ev, "events", "archive", when=when)
    # second file so compact rewrites rather than skips
    store.ingest_dataframe(_events(spark, sf_dir).limit(3),
                           "events", "archive", when=when)
    ddir = os.path.join(
        store.root, "stream=events", "client=archive",
        f"date={when.strftime('%Y%m%d')}")
    base = f"hour={when.strftime('%H')}"
    hour_dir = os.path.join(ddir, base)
    # fresh staging of a hypothetical live peer compact
    peer_tmp = os.path.join(ddir, f".{base}._compact_tmp.peer_1")
    os.makedirs(peer_tmp)
    with open(os.path.join(peer_tmp, "part-peer.parquet"), "wb") as fh:
        fh.write(b"z")

    orig = A.ArchiveStore._compact_hour

    def exploding(self, hd, mb, stats):
        # simulate: expire removed the hour while this compact's
        # rewrite ran, which then fails with a missing-path error
        _sh.rmtree(hd)
        raise FileNotFoundError(f"simulated vanish of {hd}")

    monkeypatch.setattr(A.ArchiveStore, "_compact_hour", exploding)
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    monkeypatch.setattr(A.ArchiveStore, "_compact_hour", orig)
    assert stats["hours_vanished"] == 1
    assert os.path.isdir(peer_tmp), \
        "fresh peer staging survives the vanished-hour sweep"
    assert not os.path.isdir(hour_dir)


def test_ingest_failure_preserves_staging_for_recovery(
        spark, store, sf_dir, monkeypatch):
    """A mid-loop rename failure must leave the private staging dir in
    place (r11 advice item 4): deleting it forces a full re-ingest
    that duplicates the already-renamed part files."""
    ev = _events(spark, sf_dir).limit(5)
    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        if "/.ingest_tmp." in src and src.endswith(".parquet"):
            calls["n"] += 1
            raise OSError("simulated rename failure (dest dir expired)")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    when = dt.datetime.now(tz=UTC)
    with pytest.raises(OSError, match="simulated"):
        store.ingest_dataframe(ev, "events", "archive", when=when)
    monkeypatch.setattr(os, "rename", real_rename)
    assert calls["n"] >= 1
    staged = [n for n in os.listdir(store.root)
              if n.startswith(".ingest_tmp.")]
    assert staged, "staging preserved for operator/retry recovery"
    # completing the move by hand recovers every staged row exactly
    import shutil as _sh
    stage_root = os.path.join(store.root, staged[0])
    for cur, dirs, files in os.walk(stage_root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel = os.path.relpath(cur, stage_root)
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                dest = (store.root if rel == "." else
                        os.path.join(store.root, rel))
                os.makedirs(dest, exist_ok=True)
                real_rename(os.path.join(cur, fn), os.path.join(dest, fn))
    _sh.rmtree(stage_root)
    got = store.cat("events", when.date(), client="archive").count()
    assert got == 5


def test_ingest_sweep_quarantines_committed_residue(
        spark, store, sf_dir):
    """The age sweep must distinguish part-free write wreckage (safe
    to delete) from residue holding COMMITTED part files — possibly
    the only staged copy of rows a mid-rename failure never moved
    (r11 advice): quarantine + warn, never rmtree."""
    import time
    import warnings

    os.makedirs(store.root, exist_ok=True)
    # residue WITH a committed part file in its partition subtree
    keep = os.path.join(store.root, ".ingest_tmp.dead_1")
    sub = os.path.join(keep, "stream=events", "client=archive",
                       "date=20260101", "hour=00")
    os.makedirs(sub)
    with open(os.path.join(sub, "part-x.parquet"), "wb") as fh:
        fh.write(b"p")
    # residue with only _temporary scratch (crashed before job commit)
    junk = os.path.join(store.root, ".ingest_tmp.dead_2")
    os.makedirs(os.path.join(junk, "_temporary", "0"))
    # fresh staging of a live concurrent ingest
    fresh = os.path.join(store.root, ".ingest_tmp.live_3")
    os.makedirs(fresh)
    stale = time.time() - 7200
    os.utime(keep, (stale, stale))
    os.utime(junk, (stale, stale))

    ev = _events(spark, sf_dir).limit(2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        store.ingest_dataframe(ev, "events", "archive",
                               when=dt.datetime.now(tz=UTC))
    q = os.path.join(store.root, ".ingest_quarantine.dead_1")
    assert os.path.isdir(q), "committed residue quarantined, not deleted"
    assert os.path.exists(os.path.join(
        q, "stream=events", "client=archive", "date=20260101",
        "hour=00", "part-x.parquet"))
    assert not os.path.exists(keep)
    assert not os.path.exists(junk), "part-free wreckage is reaped"
    assert os.path.isdir(fresh), "fresh staging belongs to a live job"
    assert any("reconcile" in str(w.message) for w in caught)
    # quarantined names are outside the sweep prefix: next ingest
    # neither re-warns nor touches them
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        store.ingest_dataframe(ev, "events", "archive",
                               when=dt.datetime.now(tz=UTC))
    assert os.path.isdir(q)
    assert not any("reconcile" in str(w.message) for w in again)


def test_ingest_failure_warns_naming_staging_dir(
        spark, store, sf_dir, monkeypatch):
    """The mid-move failure must announce WHERE the staged copy lives
    (r11 advice): the recovery window should not depend on an operator
    knowing the hidden staging naming scheme."""
    import warnings

    ev = _events(spark, sf_dir).limit(3)
    real_rename = os.rename

    def failing_rename(src, dst):
        if "/.ingest_tmp." in src and src.endswith(".parquet"):
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(OSError, match="simulated"):
            store.ingest_dataframe(ev, "events", "archive",
                                   when=dt.datetime.now(tz=UTC))
    monkeypatch.setattr(os, "rename", real_rename)
    staged = [n for n in os.listdir(store.root)
              if n.startswith(".ingest_tmp.")]
    assert len(staged) == 1
    msgs = [str(w.message) for w in caught]
    assert any(staged[0] in m and "preserved" in m for m in msgs), \
        f"warning must name the staging dir; got {msgs}"


@pytest.mark.parametrize("at_commit", [True, False])
def test_compact_rescues_straggler_ingest_part(
        spark, store, sf_dir, monkeypatch, at_commit):
    """A part file a concurrent backfill ingest lands in the hour after
    compact's live listing — before the rewrite reads, or just before
    the commit — is neither rewritten nor retired: it stays live and
    its rows read exactly once (r12 ingest-compact race soak)."""
    import shutil

    import go_triton_spark.plans.archive_store as A

    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)
    straggler_rows = (spark.read.parquet(os.path.join(hour_dir, parts[0]))
                      .count())

    def land_straggler():
        shutil.copyfile(os.path.join(hour_dir, parts[0]),
                        os.path.join(hour_dir, "part-straggler.parquet"))

    if at_commit:
        real_commit = A._write_marker

        def commit(hd, marker):
            land_straggler()
            real_commit(hd, marker)

        monkeypatch.setattr(A, "_write_marker", commit)
    else:
        real_sweep = A.ArchiveStore._sweep_stale_staging

        def sweep(parent, base):     # runs after the listing
            land_straggler()
            real_sweep(parent, base)

        monkeypatch.setattr(A.ArchiveStore, "_sweep_stale_staging",
                            staticmethod(sweep))
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    monkeypatch.undo()
    assert stats["hours"] == 1
    assert stats["files_before"] == 2 and stats["files_after"] == 2
    df = store.cat("events", when.date(), client="archive")
    assert "part-straggler.parquet" in {
        os.path.basename(p) for p in df.inputFiles()}
    assert df.count() == 15 + straggler_rows


def test_ingest_failure_exception_carries_staging_dir(
        spark, store, sf_dir, monkeypatch):
    """The mid-move failure's exception exposes the preserved staging
    path machine-readably (triton_staging_dir) so a smarter retry can
    complete the move instead of re-ingesting + duplicating."""
    ev = _events(spark, sf_dir).limit(3)
    real_rename = os.rename

    def failing_rename(src, dst):
        if "/.ingest_tmp." in src and src.endswith(".parquet"):
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated") as ei:
        store.ingest_dataframe(ev, "events", "archive",
                               when=dt.datetime.now(tz=UTC))
    monkeypatch.setattr(os, "rename", real_rename)
    staging = getattr(ei.value, "triton_staging_dir", None)
    assert staging and os.path.isdir(staging)
    assert os.path.basename(staging).startswith(".ingest_tmp.")


def _seed_fragmented_hour(spark, store, sf_dir, when):
    ev = _events(spark, sf_dir).limit(10)
    store.ingest_dataframe(ev, "events", "archive", when=when)
    store.ingest_dataframe(ev.limit(5), "events", "archive",
                           when=when + dt.timedelta(seconds=1))
    hour_dir = os.path.join(
        store.root, "stream=events", "client=archive",
        f"date={when.strftime('%Y%m%d')}", f"hour={when.strftime('%H')}")
    parts = sorted(f for f in os.listdir(hour_dir)
                   if f.endswith(".parquet"))
    assert len(parts) >= 2, "need a fragmented hour so compact rewrites"
    return hour_dir, parts


def test_compact_skips_hour_held_by_live_lock(spark, store, sf_dir):
    """Two uncoordinated compact crons on the same hour: the per-hour
    lock serialises the read-modify-write of the hour's commit
    marker, so a fresh advisory lock makes the second compactor skip
    the hour."""
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)
    parent, base = os.path.split(hour_dir)
    lock = os.path.join(parent, f".{base}._compact_lock")
    with open(lock, "w") as fh:
        fh.write("424242\n")    # a live peer holds the hour
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours_locked"] == 1
    assert stats["hours"] == 0
    assert sorted(f for f in os.listdir(hour_dir)
                  if f.endswith(".parquet")) == parts, \
        "locked hour must be untouched"
    assert os.path.exists(lock), "skipper must not release a peer's lock"
    os.unlink(lock)
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours"] == 1 and stats["hours_locked"] == 0
    assert not os.path.exists(lock), "owner must release on completion"
    assert store.cat("events", when.date(),
                     client="archive").count() == 15


def test_compact_steals_stale_lock(spark, store, sf_dir):
    """A crashed holder must not wedge compaction forever: a lock
    older than the one-hour grace is CLEARED (inode-verified
    steal) and the hour compacts on the next pass — the stealer does
    not retake in place, which was a two-stealer TOCTOU."""
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)
    parent, base = os.path.split(hour_dir)
    lock = os.path.join(parent, f".{base}._compact_lock")
    with open(lock, "w") as fh:
        fh.write("424242\n")
    stale = dt.datetime.now(tz=UTC).timestamp() - 7200.0
    os.utime(lock, (stale, stale))
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours_locked"] == 1 and stats["hours"] == 0
    assert not os.path.exists(lock), "stale lock must be cleared"
    assert not any(".stale." in n for n in os.listdir(parent)), \
        "steal must not leave grab-file residue"
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours"] == 1 and stats["hours_locked"] == 0
    assert not os.path.exists(lock)
    assert store.cat("events", when.date(),
                     client="archive").count() == 15


def test_acquire_hour_lock_restores_fresh_lock_grabbed_mid_steal(
        tmp_path, monkeypatch):
    """Steal freshness check: when the stale lock is replaced by a
    NEW holder's fresh lock between the stealer's stat and rename,
    the stealer must detect it grabbed a live lock (by the grabbed
    file's own mtime — inode identity is porous, the fresh lock
    routinely reuses the freed inode, observed in this very test),
    restore it via os.link (which cannot clobber), and yield."""
    from go_triton_spark.plans.archive_store import ArchiveStore

    parent = str(tmp_path)
    base = "hour=03"
    path = os.path.join(parent, f".{base}._compact_lock")
    with open(path, "w") as fh:
        fh.write("dead\n")
    stale = dt.datetime.now(tz=UTC).timestamp() - 7200.0
    os.utime(path, (stale, stale))

    real_rename = os.rename
    fresh_ino = {}

    def rename_with_interleaving(src, dst):
        if src == path and ".stale." in dst:
            # simulate: the stale lock vanishes (another stealer) and
            # a new live holder creates a FRESH lock at the same path
            # between this stealer's stat and its rename
            os.unlink(path)
            with open(path, "w") as fh:
                fh.write("live-holder\n")
            fresh_ino["ino"] = os.stat(path).st_ino
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_with_interleaving)
    got = ArchiveStore._acquire_hour_lock(parent, base)
    monkeypatch.setattr(os, "rename", real_rename)
    assert got is None, "stealer must yield after grabbing a fresh lock"
    assert os.path.exists(path), "fresh lock must be restored"
    assert os.stat(path).st_ino == fresh_ino["ino"], \
        "restored lock must be the live holder's exact inode"
    assert not any(".stale." in n for n in os.listdir(parent)), \
        "no grab-file residue"
    with open(path) as fh:
        assert fh.read() == "live-holder\n"


def test_expire_idempotent_against_concurrent_maintenance(
        spark, store, sf_dir, monkeypatch):
    """Pinned from the four-way soak failure: expire's rmtree raced a
    concurrent compact of the same old date — compaction renames
    entries while expire's deletion walk unlinks them, so the walk hits vanished paths (FileNotFoundError) or a
    briefly-nonempty dir (ENOTEMPTY); a peer expire can also drop the
    whole date between listdir and rmtree. Contract: deletion is
    idempotent (already-gone = dropped), one retry re-walks a torn
    tree, and a PERSISTENT failure still surfaces loudly."""
    import errno
    import shutil

    ev = _events(spark, sf_dir).limit(20)
    keep = dt.datetime(2026, 8, 10, 12, tzinfo=UTC)

    def seed(client, *day_offsets):
        for off in day_offsets:
            store.ingest_dataframe(ev, "events", client,
                                   when=keep - dt.timedelta(days=off))

    real = shutil.rmtree

    # leg 1: a peer deleted the date between our listdir and rmtree —
    # already-gone is the goal state, counted dropped, no error
    seed("alpha", 30, 20, 0)
    state = {"n": 0}

    def peer_won(path, *a, **k):
        state["n"] += 1
        if state["n"] == 1:
            real(path)
            raise FileNotFoundError(2, "No such file or directory", path)
        return real(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", peer_won)
    assert store.expire("events", "alpha", keep.date()) == \
        {"dropped": 2, "kept": 1}

    # leg 2: torn walk (concurrent compact renaming entries mid-walk)
    # — first pass fails with ENOTEMPTY leaving the tree in place, the
    # retry re-walks and succeeds
    seed("beta", 15)
    state["n"] = 0

    def torn_once(path, *a, **k):
        state["n"] += 1
        if state["n"] == 1:
            raise OSError(errno.ENOTEMPTY, "Directory not empty", path)
        return real(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", torn_once)
    assert store.expire("events", "beta", keep.date()) == \
        {"dropped": 1, "kept": 0}

    # leg 3: persistent failure (tree still present after both passes)
    # must surface, not be silently swallowed
    seed("gamma", 15)

    def stuck(path, *a, **k):
        raise OSError(errno.ENOTEMPTY, "Directory not empty", path)

    monkeypatch.setattr(shutil, "rmtree", stuck)
    with pytest.raises(OSError):
        store.expire("events", "gamma", keep.date())


def test_expire_converges_while_compact_recreates_its_lock(
        spark, store, sf_dir, monkeypatch):
    """A compact of the date being expired creates its hour lock in the
    date dir just before expire's deletion walk removes the dir itself,
    on every pass. Deleting in place, each pass then failed with
    ENOTEMPTY and expire raised "survived two deletion passes" (seen
    under CPU load in the four-way concurrency soak). Expire must drop
    the date, and the compact's lock create must fail with
    FileNotFoundError instead of re-creating ``date=...``."""
    when = dt.datetime(2026, 8, 1, 5, tzinfo=UTC)
    store.ingest_dataframe(_events(spark, sf_dir).limit(10), "events",
                           "archive", when=when)
    slice_dir = os.path.join(store.root, "stream=events", "client=archive")
    date_dir = os.path.join(slice_dir, "date=20260801")
    lock = os.path.join(date_dir, ".hour=05._compact_lock")
    real_rmdir, compacts = os.rmdir, []

    def rmdir(path, *a, **k):
        if k.get("dir_fd") is None and "date=20260801" in str(path):
            try:    # the peer compact's O_EXCL lock create
                os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                compacts.append("created")
            except FileNotFoundError:
                compacts.append("FileNotFoundError")
        return real_rmdir(path, *a, **k)

    monkeypatch.setattr(os, "rmdir", rmdir)
    stats = store.expire("events", "archive", dt.date(2026, 8, 2))
    monkeypatch.undo()
    assert stats == {"dropped": 1, "kept": 0}
    assert compacts and set(compacts) == {"FileNotFoundError"}, compacts
    assert os.listdir(slice_dir) == [], "date or tombstone left behind"
    with pytest.raises(FileNotFoundError):
        store.compact("events", when.date(), "archive")
    assert not os.path.lexists(date_dir)


def test_compact_racing_expire_leaves_no_date_behind(spark, store, sf_dir,
                                                     monkeypatch):
    """Expire drops the date while compact rewrites one of its hours,
    after Hadoop's mkdirs re-created the date around compact's staging
    dir, so the commit finds no hour. The hour is counted vanished, and
    the staging (this attempt's own) goes with the re-created date:
    expire's delete sticks."""
    from go_triton_spark.plans import archive_store

    when = dt.datetime.now(tz=UTC) - dt.timedelta(days=3, hours=5)
    hour_dir, _ = _seed_fragmented_hour(spark, store, sf_dir, when)
    date_dir = os.path.dirname(hour_dir)

    real_commit = archive_store._write_marker

    def expire_wins(hd, marker):
        tomb = date_dir + ".gone"
        os.rename(date_dir, tomb)                   # expire's tombstone
        for name in os.listdir(tomb):               # the write's mkdirs
            if "._compact_tmp." in name:
                os.makedirs(os.path.join(date_dir, name))
        real_commit(hd, marker)

    monkeypatch.setattr(archive_store, "_write_marker", expire_wins)
    stats = store.compact("events", when.date(), "archive")
    assert stats["hours_vanished"] == 1 and stats["hours"] == 0
    assert not os.path.lexists(date_dir), os.listdir(date_dir)


# --- per-hour commit marker ------------------------------------------------

def _marker_path(hour_dir):
    return os.path.join(hour_dir, "_compacted.json")


def _marker(hour_dir):
    import json

    with open(_marker_path(hour_dir)) as fh:
        return json.load(fh)


def test_cat_planned_before_compact_still_reads(spark, store, sf_dir):
    """A cat planned before a compaction still reads the files it
    listed: compact retires them and deletes nothing at commit. A
    fresh cat reads exactly the outputs the marker names."""
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)
    planned = store.cat("events", when.date(), client="archive")
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours"] == 1 and stats["files_after"] == 1
    assert planned.count() == 15
    fresh = store.cat("events", when.date(), client="archive")
    assert fresh.count() == 15
    marker = _marker(hour_dir)
    assert {os.path.basename(p) for p in fresh.inputFiles()} \
        == set(marker["outputs"])
    assert sorted(marker["retired"]) == parts


def test_compact_crash_before_commit_keeps_the_old_set(
        spark, store, sf_dir, monkeypatch):
    """A crash after the outputs are renamed into the hour but before
    the marker is replaced leaves outputs no marker names: cat never
    reads them, and a compact past the grace deletes them."""
    import go_triton_spark.plans.archive_store as A

    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)

    def crash(hd, marker):
        raise OSError("simulated crash at the commit")

    monkeypatch.setattr(A, "_write_marker", crash)
    with pytest.raises(OSError, match="simulated crash"):
        store.compact("events", when.date(), "archive", min_age_hours=1.0)
    monkeypatch.undo()
    orphans = [n for n in os.listdir(hour_dir) if n.startswith("compacted-")]
    assert orphans and not os.path.exists(_marker_path(hour_dir))
    df = store.cat("events", when.date(), client="archive")
    assert df.count() == 15
    assert sorted(os.path.basename(p) for p in df.inputFiles()) == parts

    stale = dt.datetime.now(tz=UTC).timestamp() - 7200.0
    for n in orphans:
        os.utime(os.path.join(hour_dir, n), (stale, stale))
    store.compact("events", when.date(), "archive", min_age_hours=1.0)
    assert not set(orphans) & set(os.listdir(hour_dir)), \
        "orphans past the grace are deleted"
    assert store.cat("events", when.date(), client="archive").count() == 15


def test_compact_deletes_retired_files_after_the_grace(
        spark, store, sf_dir):
    """Retired files stay while a reader may hold them, and the next
    compact after the grace deletes them — also of an hour that needs
    no rewrite — and drops their names from the marker."""
    import json

    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, parts = _seed_fragmented_hour(spark, store, sf_dir, when)
    store.compact("events", when.date(), "archive", min_age_hours=1.0)
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["files_before"] == stats["files_after"] == 1
    assert set(parts) <= set(os.listdir(hour_dir)), \
        "retired files inside the grace stay on disk"

    marker = _marker(hour_dir)
    marker["retired"] = {n: at - 7200.0
                         for n, at in marker["retired"].items()}
    with open(_marker_path(hour_dir), "w") as fh:
        json.dump(marker, fh)
    stats = store.compact("events", when.date(), "archive",
                          min_age_hours=1.0)
    assert stats["hours"] == 1 and stats["files_after"] == 1
    assert not set(parts) & set(os.listdir(hour_dir))
    assert _marker(hour_dir)["retired"] == {}
    assert _marker(hour_dir)["outputs"] == marker["outputs"]
    assert store.cat("events", when.date(), client="archive").count() == 15


def test_cat_fails_loudly_on_a_corrupt_marker(spark, store, sf_dir):
    """A marker that does not parse fails cat and compact: any guess
    at the hour's live set could drop or double rows."""
    when = dt.datetime.now(tz=UTC) - dt.timedelta(hours=5)
    hour_dir, _ = _seed_fragmented_hour(spark, store, sf_dir, when)
    with open(_marker_path(hour_dir), "w") as fh:
        fh.write('{"outputs": [')
    with pytest.raises(ValueError, match="corrupt compaction marker"):
        store.cat("events", when.date(), client="archive")
    with pytest.raises(ValueError, match="corrupt compaction marker"):
        store.compact("events", when.date(), "archive", min_age_hours=1.0)
