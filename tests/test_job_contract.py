"""Job contract of the ingest -> archive -> replay control path.

Read from Spark's status store, not from plan text: the only jobs on
this path are the ones the caller asked for. A ``store`` micro-batch
and a ``cat`` over more than 32 files (Spark's parallel-listing
threshold) list their files on the driver under a local master, and a
warm single-client ``cat`` launches no job before the caller's action
(no client-guard scan, no schema-inference read). A warm
``load_table`` launches no job either, and building a query pays no
PySpark call-site capture. Python workers fork from the engine's
daemon, whose zip importers keep an unchanged archive's directory
across tasks. The driver JVM starts from a class-data archive that a
first session dumps; a corrupt or declined archive never costs a
session its start or ``cli cat`` its clean stdout.
"""

import datetime as dt
import json
import os

import pytest

from go_triton_spark.config import load_config
from go_triton_spark.engine import TritonEngine
from go_triton_spark.operators import registry
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc
LISTING = "Listing leaf files"
N_FILES = 40    # above parallelPartitionDiscovery.threshold's default 32
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _jobs(spark) -> dict[int, str]:
    """Every job in the status store: id -> description, else name."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = {}
    while it.hasNext():
        j = it.next()
        d = j.description()
        out[j.jobId()] = d.get() if d.isDefined() else j.name()
    return out


def _jobs_since(spark, before: dict) -> list[tuple[int, str]]:
    return sorted((k, v) for k, v in _jobs(spark).items() if k not in before)


def test_listing_threshold_only_under_a_local_master(monkeypatch):
    from go_triton_spark.session import builder

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONFS", raising=False)
    for master in ("local", "local[3]", "local[*]"):
        assert builder(master=master)._options[key] == str(2**31 - 1)
    for master in ("spark://head:7077", "yarn", "local-cluster[2,1,1024]"):
        assert key not in builder(master=master)._options
    # the escape hatch is applied last and still wins
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{key}=8")
    assert builder(master="local[3]")._options[key] == "8"
    assert builder(master="local[3]", extra_confs="")._options[key] \
        == str(2**31 - 1)


def test_python_workers_fork_from_the_engine_daemon(monkeypatch):
    from go_triton_spark.session import builder

    key = "spark.python.daemon.module"
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONFS", raising=False)
    for master in ("local", "local[3]", "spark://head:7077", "yarn",
                   "local-cluster[2,1,1024]"):
        assert builder(master=master)._options[key] \
            == "go_triton_spark.pyworker"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{key}=pyspark.daemon")
    assert builder(master="local[3]")._options[key] == "pyspark.daemon"


def test_python_task_keeps_zip_directories(spark):
    def zip_importers(batches):
        # a task's zip importers, and the directory reads one
        # importlib.invalidate_caches() costs them
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        kinds = [type(f) for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
        yield pd.DataFrame({
            "plain": [sum(k is zipimport.zipimporter for k in kinds)],
            "stable": [sum(k.__name__ == "StableZipImporter" for k in kinds)],
            "reads": [len(reads)]})

    probe = spark.range(0, 4, 1, 2).mapInPandas(
        zip_importers, "plain long, stable long, reads long")
    for _ in range(2):     # the second job runs in reused workers
        rows = probe.collect()
        assert len(rows) == 2
        for r in rows:
            assert r.plain == 0 and r.stable > 0 and r.reads == 0, rows


def test_store_micro_batch_lists_files_on_driver(spark, tmp_path):
    src = tmp_path / "incoming" / "events"
    src.mkdir(parents=True)
    for k in range(N_FILES):
        # one batch file per tritond flush: JSON lines
        with open(src / f"{k:04d}-events.json", "w") as fh:
            for i in range(k * 5, k * 5 + 5):
                fh.write(json.dumps({
                    "event_id": i, "ts": "2020-01-01T00:00:00Z",
                    "user_id": i % 7, "event_type": "click",
                    "value": float(i), "props": "{}"}) + "\n")
    eng = TritonEngine(spark, str(tmp_path), config=load_config(
        f"events:\n  name: events\n  source: file\n  format: json\n"
        f"  path: {src}\n"), client="archive")
    before = _jobs(spark)
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    batches = [p for p in pipe.query.recentProgress
               if p["numInputRows"] > 0]
    pipe.stop()
    # all files in ONE micro-batch, so its getBatch handed Spark more
    # paths than the parallel-listing threshold
    assert [p["numInputRows"] for p in batches] == [N_FILES * 5]
    jobs = _jobs_since(spark, before)
    assert jobs, "the micro-batch ran no job at all"
    assert not [j for j in jobs if j[1].startswith(LISTING)], jobs
    today = dt.datetime.now(tz=UTC).date()
    assert eng.cat("events", today).count() == N_FILES * 5


def test_warm_cat_launches_no_job_before_the_action(spark, tmp_path):
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    when = dt.datetime(2015, 6, 30, 5, tzinfo=UTC)
    rows = spark.range(0, 400, 1, 8).selectExpr(
        "id AS event_id", "CAST(id AS DOUBLE) AS value")
    store.ingest_dataframe(rows.repartition(N_FILES), "events", "bench",
                           when=when)
    hour = os.path.join(store.root, "stream=events", "client=bench",
                        "date=20150630", "hour=05")
    assert len([f for f in os.listdir(hour)
                if f.endswith(".parquet")]) == N_FILES

    before = _jobs(spark)
    store.cat("events", when.date())    # cold: infers the schema once
    cold = _jobs_since(spark, before)
    assert not [j for j in cold if j[1].startswith(LISTING)], cold
    assert len(cold) <= 1, cold

    before = _jobs(spark)
    for ordered in (True, False):
        out = store.cat("events", when.date(), ordered=ordered)
    assert _jobs_since(spark, before) == []
    assert out.count() == 400
    jobs = _jobs_since(spark, before)
    assert jobs and not [j for j in jobs if j[1].startswith(LISTING)], jobs


@pytest.fixture
def sf01(sf_dir):
    """The sf0.01 corpus, beside the smoke corpus."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def test_warm_load_table_launches_no_job(spark, sf01, tmp_path):
    for t in TABLES:                # cold: at most one inference job each
        registry.load_table(spark, sf01, t)
    before = _jobs(spark)
    for t in TABLES:
        registry.load_table(spark, sf01, t)
    TritonEngine(spark, str(tmp_path)).register_tables(sf01)
    assert _jobs_since(spark, before) == []
    assert spark.table("orders").count() > 0


def test_cached_schema_equals_a_fresh_read(spark, sf01, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in TABLES:
        path = os.path.join(sf01, f"{t}.parquet")
        registry.load_table(spark, sf01, t)
        warm = registry.read_parquet(spark, path).schema
        assert warm == spark.read.parquet(path).schema, t
        assert registry._SCHEMAS[path][1] == warm, t
    # an events.ts stored as TIMESTAMP(NANOS) is a long under
    # nanosAsLong, warm or cold, and load_table normalizes it alike
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_500_000_000_123_456_789],
                                            pa.timestamp("ns"))}),
                   path, version="2.6")
    for _ in range(2):
        assert registry.read_parquet(spark, path).schema == \
            spark.read.parquet(path).schema
        assert registry.read_parquet(spark, path).dtypes == [("ts", "bigint")]
        ev = registry.load_table(spark, str(tmp_path), "events")
        assert ev.dtypes == [("ts", "timestamp_ntz")]
        assert ev.head().ts == dt.datetime(2017, 7, 14, 2, 40, 0, 123456)


@pytest.fixture
def binary_as_string(spark):
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "false")
    yield lambda v: spark.conf.set(key, v)
    spark.conf.unset(key)


def test_rewrite_or_inference_conf_reinfers(spark, tmp_path,
                                            binary_as_string):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1], "b": [b"x"]}), path)
    assert registry.read_parquet(spark, path).dtypes == \
        [("a", "bigint"), ("b", "binary")]
    # the same file rewritten in place re-infers
    pq.write_table(pa.table({"a": [1], "b": [b"x"], "c": [2]}), path)
    assert registry.read_parquet(spark, path).columns == ["a", "b", "c"]
    # a flipped inference conf re-infers, for load_table and for cat
    # (files without Spark's own schema in the footer, as Spark-written
    # ones answer inference from that schema whatever the confs)
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    hour = tmp_path / "archive" / "stream=events" / "client=bench" / \
        "date=20150630" / "hour=05"
    hour.mkdir(parents=True)
    pq.write_table(pa.table({"b": [b"x"]}), str(hour / "part-0.parquet"))
    day = dt.date(2015, 6, 30)
    assert dict(store.cat("events", day, ordered=False).dtypes)["b"] == "binary"
    binary_as_string("true")
    assert dict(registry.read_parquet(spark, path).dtypes)["b"] == "string"
    assert dict(store.cat("events", day, ordered=False).dtypes)["b"] == "string"
    # a partitioned directory keeps inferring its partition columns
    part = str(tmp_path / "p.parquet")
    spark.sql("SELECT id, id % 2 AS k FROM range(4)").write \
        .partitionBy("k").parquet(part)
    for _ in range(2):
        got = registry.read_parquet(spark, part)
        assert got.schema == spark.read.parquet(part).schema
        assert got.where("k = 1").count() == 2


def test_builder_turns_off_call_site_capture(monkeypatch):
    from go_triton_spark.session import builder

    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONFS", raising=False)
    for master in ("local", "local[3]", "spark://head:7077", "yarn",
                   "local-cluster[2,1,1024]"):
        assert builder(master=master)._options[DEBUGGING] == "false"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{DEBUGGING}=true")
    assert builder(master="local[3]")._options[DEBUGGING] == "true"


def test_live_session_skips_call_site_capture(spark, monkeypatch):
    from pyspark.errors import AnalysisException
    from pyspark.errors import utils
    from pyspark.sql import functions as F

    # re-read the conf from the live session, not a cached answer
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert spark.conf.get(DEBUGGING) == "false"
    assert utils.is_debugging_enabled() is False
    with pytest.raises(AnalysisException, match="nope"):
        spark.range(1).select(F.col("nope") + 1).schema


# ------------------------------------------------------ class-data archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAPPED_ARCHIVES = (
    "from go_triton_spark.session import get_spark\n"
    "pid = get_spark('cds-probe')._jvm.java.lang.ProcessHandle.current().pid()\n"
    "with open(f'/proc/{pid}/maps') as fh:\n"
    "    print(sorted({l.split()[-1] for l in fh if l.rstrip().endswith('.jsa')}))\n")


@pytest.fixture
def fake_spark_home(tmp_path, monkeypatch):
    """A SPARK_HOME with one jar and a stock conf dir (templates only),
    and a private archive cache."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    # the builder sets SPARK_CONF_DIR itself: record the current value
    # first, so teardown restores it
    monkeypatch.setenv("SPARK_CONF_DIR", "")
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONFS", raising=False)
    return home


def test_cds_needs_a_conf_dir_without_real_files(fake_spark_home, tmp_path,
                                                monkeypatch):
    from go_triton_spark.session import JAVA_OPTS, builder

    # templates only: the builder points SPARK_CONF_DIR at its own
    # empty directory and dumps an archive
    opts = builder(master="local[2]")._options
    assert "-XX:ArchiveClassesAtExit=" in opts[JAVA_OPTS]
    own = tmp_path / "cache" / "go_triton_spark" / "conf"
    assert os.environ["SPARK_CONF_DIR"] == str(own)
    assert os.listdir(own) == []

    # a real spark-defaults.conf in the default conf dir: no flags
    # (they would override its extraJavaOptions), no conf dir swap
    monkeypatch.delenv("SPARK_CONF_DIR")
    (fake_spark_home / "conf" / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Dfrom.defaults=1\n")
    assert JAVA_OPTS not in builder(master="local[2]")._options
    assert "SPARK_CONF_DIR" not in os.environ

    # the user's own conf dir is kept as set
    user = tmp_path / "user-conf"
    user.mkdir()
    (user / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(user))
    assert JAVA_OPTS not in builder(master="local[2]")._options
    assert os.environ["SPARK_CONF_DIR"] == str(user)


def test_cds_flags_go_next_to_the_users_java_options(fake_spark_home,
                                                     monkeypatch):
    from go_triton_spark.session import JAVA_OPTS, builder

    mine = "-Dgo.triton.probe=1 -Xss4m"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{JAVA_OPTS}={mine}")
    for b in (builder(master="local[2]"),
              builder(master="local[2]", extra_confs=f"{JAVA_OPTS}={mine}")):
        opts = b._options[JAVA_OPTS]
        assert opts.endswith(" " + mine), opts
        assert "-Xlog:all=warning:stderr" in opts
        assert "-XX:ArchiveClassesAtExit=" in opts
    # options that run CDS their own way get nothing added
    assert builder(master="local[2]", extra_confs=f"{JAVA_OPTS}=-Xshare:off"
                   )._options[JAVA_OPTS] == "-Xshare:off"


@pytest.fixture(scope="module")
def cds_sessions(spark, tmp_path_factory):
    """Two sessions in their own processes against a private cache whose
    key path holds a corrupt archive: a ``cli cat`` that dumps a fresh
    archive at exit, then a session that starts from it."""
    import subprocess
    import sys
    import zipfile

    from pyspark.find_spark_home import _find_spark_home

    from go_triton_spark import session

    base = tmp_path_factory.mktemp("cds")
    conf = base / "conf"        # an empty conf dir the user set
    conf.mkdir()
    archive = base / "cache" / "go_triton_spark" / (
        f"spark-{session._archive_key(_find_spark_home(), str(conf))}.jsa")
    archive.parent.mkdir(parents=True)
    archive.write_bytes(b"\xa8\xab\x0b\xf0 not an archive" * 4096)
    root = base / "root"
    ArchiveStore(spark, str(root / "archive")).ingest_dataframe(
        spark.createDataFrame(
            [(i, dt.datetime(2026, 8, 1, 5, tzinfo=UTC), i, "click", 1.0,
              "{}") for i in range(5)], EVENTS_SCHEMA),
        "events", "archive", when=dt.datetime(2026, 8, 1, 5, tzinfo=UTC))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_EXTRA_CONFS", "TRITON_CONFIG")}
    env.update(XDG_CACHE_HOME=str(base / "cache"), SPARK_CONF_DIR=str(conf),
               TRITON_ROOT=str(root), TRITON_CLIENT="archive")

    def run(*args, **more_env):
        return subprocess.run([sys.executable, *args], env=env | more_env,
                              cwd=REPO, capture_output=True, text=True,
                              timeout=600)

    cat = run("-m", "go_triton_spark.cli", "cat", "--stream", "events",
              "--start-date", "20260801")
    stamped = session._stamped(str(archive))
    size = archive.stat().st_size if archive.exists() else 0
    probe = run("-c", MAPPED_ARCHIVES)
    # a jar in front of the classpath the archive was dumped for: the
    # JVM declines the archive
    with zipfile.ZipFile(base / "extra.jar", "w") as jar:
        jar.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    declined = run("-c", MAPPED_ARCHIVES, SPARK_GRAFT_EXTRA_CONFS=(
        f"spark.driver.extraClassPath={base / 'extra.jar'}"))
    return {"archive": str(archive), "cat": cat, "stamped": stamped,
            "size": size, "probe": probe, "declined": declined,
            "kept_after_decline": archive.exists()}


def test_corrupt_archive_is_replaced_and_stdout_stays_clean(cds_sessions):
    cat = cds_sessions["cat"]
    assert cat.returncode == 0, cat.stderr[-3000:]
    # stdout holds the replayed rows and nothing else: the dumping JVM's
    # warnings (one per class it skips) go to stderr
    rows = [json.loads(line) for line in cat.stdout.splitlines()]
    assert sorted(r["event_id"] for r in rows) == list(range(5))
    assert "[warning][cds]" in cat.stderr
    assert f"{cds_sessions['archive']} is stale or corrupt" in cat.stderr
    # the corrupt file was never handed to the JVM: replaced at exit
    assert cds_sessions["stamped"] and cds_sessions["size"] > 1 << 20


def test_live_session_maps_the_archive(cds_sessions):
    probe = cds_sessions["probe"]
    assert probe.returncode == 0, probe.stderr[-3000:]
    assert cds_sessions["archive"] in probe.stdout, probe.stdout


def test_declined_archive_is_removed_at_exit(cds_sessions):
    declined = cds_sessions["declined"]
    assert declined.returncode == 0, declined.stderr[-3000:]
    assert cds_sessions["archive"] not in declined.stdout, declined.stdout
    assert "did not map" in declined.stderr
    assert not cds_sessions["kept_after_decline"]
