"""Job contract of the ingest -> archive -> replay control path.

Read from Spark's status store, not from plan text: the only jobs on
this path are the ones the caller asked for. A ``store`` micro-batch
and a ``cat`` over more than 32 files (Spark's parallel-listing
threshold) list their files on the driver under a local master, and a
warm single-client ``cat`` launches no job before the caller's action
(no client-guard scan, no schema-inference read). Python workers fork
from the engine's daemon, whose zip importers keep an unchanged
archive's directory across tasks.
"""

import datetime as dt
import json
import os

from go_triton_spark.config import load_config
from go_triton_spark.engine import TritonEngine
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.types import EVENTS_SCHEMA

UTC = dt.timezone.utc
LISTING = "Listing leaf files"
N_FILES = 40    # above parallelPartitionDiscovery.threshold's default 32


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
