"""One benchmark run, in the process that drives Spark.

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE WORKDIR SPAWNED_AT
                                GEN_CPU

``run.py`` starts this with a pinned environment and reads the result
from ``WORKDIR/result.json``. Everything timed here goes through the
public surface of each layer: ``session.get_spark``,
``operators.REGISTRY[name].spark`` plus the noop write,
``tritond.ZmqClient`` / ``TritondDaemon`` (in ``wire.py``),
``TritonEngine.store`` / ``.cat`` / ``.archive.compact``, and Spark's
own status store and ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import datetime as _dt
import glob
import hashlib
import json
import math
import os
import random
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from wire import WARMUP_BLOCKS  # noqa: E402

# The query baskets are cut from the 97 bench.py HEADLINE queries so that
# one run (a cold check pass, warm-up passes, then timed passes) fits the
# benchmark's time budget; each family of the full split keeps a member.
# query_light: overhead-bound queries outside the two heavy families —
# TPC-H, aggregates, windows, event time, s15 replay, text and curation
# pipelines
LIGHT = [
    "q6_revenue_forecast", "agg_cube", "window_row_number",
    "s15_ordered_replay", "evt_session_window", "tfidf_top_terms",
    "curate_pipeline_end_to_end",
]
# query_heavy: task-bound similarity/dedup (executor CPU and shuffle)
# and decode (Python-worker CPU) queries
HEAVY = [
    "dedup_minhash_lsh", "dedup_levenshtein", "ann_topk_bruteforce",
    "mm_flac_decode", "warc_extract",
]
BASKETS = {"query_light": LIGHT, "query_heavy": HEAVY}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

INGEST_RATE = 10_000        # records/s offered by the open-loop generator
TRIGGER_S = 1.0             # store's processing-time trigger
DRAIN_TIMEOUT_S = 30.0      # after the last send, every block must be visible
GEN_STALL_S = 30.0          # past its schedule, the generator counts as stuck
REPLAYS = 3
# After one warm-up pass the timed passes still got faster pass by pass
# (the first up to twice the last) and a run's query_wall_s depended on
# how far the JIT had got; after three they keep level.
WARMUP_PASSES = 3
# the median of fewer timed passes still leans on the last of the warm-up
MIN_PASSES = 5
# On a shared host the hypervisor takes a fifth or more of the machine's
# CPU time for tens of seconds at a time; a query pass in such a spell
# ran up to 1.8 times as long, which no median over one short run evens
# out. A pass that lost more than STEAL_MAX of the machine's CPU time to
# steal does not count towards MIN_PASSES, and the timed passes run on
# for up to STEAL_WAIT_S past the window until MIN_PASSES passes did not;
# the figures are then medians over those passes, or over the MIN_PASSES
# least disturbed ones.
STEAL_MAX = 0.02
STEAL_WAIT_S = 6.0

PER_LAYER = [
    "session.start_s", "session.warmup_s",
    "operators.build_s",
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
    "cpu.jvm_s", "cpu.jvm_outside_tasks_s", "spark.gc_s",
    "spark.task_cpu_s", "spark.task_run_s", "spark.core_util",
    "spark.shuffle_write_bytes", "spark.shuffle_write_records",
    "spark.input_records",
    "cpu.pyworker_s", "cpu.driver_py_s", "cpu.tritond_s", "vm.steal_share",
    "tritond.received", "tritond.files", "tritond.flush_lag_p50_s",
    "gen.late_max_s",
    "store.batches", "store.batch_p50_s", "store.batch_max_s",
    "store.add_batch_s", "store.offsets_s", "store.wal_commit_s",
    "store.rows_per_batch", "store.backlog_files_max",
    "archive.cat_plan_p50_s", "archive.cat_exec_p50_s", "archive.files",
    "archive.bytes_per_record", "archive.compact_s",
    "archive.files_after_compact",
    "self.session_s", "self.operators_s", "self.spark_plan_s",
    "self.spark_exec_s", "self.check_s", "self.archive_cat_s",
    "self.archive_compact_s", "self.archive_replay_s", "self.ingest_s",
]


class Tracer:
    """In-memory spans: name, start, end, parent, id. Off unless tracing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    def span(self, name: str, ident=None):
        return _Span(self, name, ident)

    def self_times(self) -> dict[str, float]:
        """Per span name: total wall minus the wall of its child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, ident):
        self.t, self.name, self.ident = tracer, name, ident

    def __enter__(self):
        if self.t.enabled:
            stack = self.t._local.__dict__.setdefault("stack", [])
            self.idx = len(self.t.spans)
            self.t.spans.append({"name": self.name, "id": self.ident,
                                 "parent": stack[-1] if stack else None,
                                 "start": time.perf_counter(), "end": None})
            stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t.spans[self.idx]["end"] = time.perf_counter()
            self.t._local.stack.pop()
        return False


def log(msg: str) -> None:
    """A progress line in the worker log (shown when a run fails)."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", flush=True)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


# ------------------------------------------------------------- session

def _warmup(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").write.format("noop") \
        .mode("overwrite").save()


def setup(spawned_at: float, tracer: Tracer):
    """The session plus warmup, timed from process start (imports, JVM
    launch), as every user of the program pays it once per process."""
    from go_triton_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warmup(spark)
    t2 = time.perf_counter()
    return spark, {"setup_s": time.time() - spawned_at,
                   "session.start_s": t1 - t0,
                   "session.warmup_s": t2 - t1}


# ------------------------------------------------------- spark stats

class StageStats:
    """Per-window totals from Spark's in-process status store."""

    FIELDS = ("stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
              "shuffle_write_bytes", "shuffle_write_records",
              "input_records")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seen: set[tuple[int, int]] = set()
        self.take()     # everything before now belongs to no window

    def take(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        stages = jsc.statusStore().stageList(
            None, False, False, self.sc._gateway.new_array(
                self.sc._gateway.jvm.double, 0), None)
        out = dict.fromkeys(self.FIELDS, 0.0)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            status = s.status().toString()
            key = (s.stageId(), s.attemptId())
            if status not in ("COMPLETE", "FAILED") or key in self.seen:
                continue
            self.seen.add(key)
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_write_records"] += s.shuffleWriteRecords()
            out["input_records"] += s.inputRecords()
        return out


def _spark_layers(stats: dict, cpu: dict, wall: float, cores: int) -> dict:
    return {
        "spark.stages": stats["stages"], "spark.tasks": stats["tasks"],
        "spark.task_cpu_s": stats["task_cpu_s"],
        "spark.task_run_s": stats["task_run_s"],
        "spark.gc_s": stats["gc_s"],
        "spark.shuffle_write_bytes": stats["shuffle_write_bytes"],
        "spark.shuffle_write_records": stats["shuffle_write_records"],
        "spark.input_records": stats["input_records"],
        "spark.core_util": (stats["task_run_s"] / (wall * cores)
                            if wall > 0 else 0.0),
        "cpu.jvm_s": cpu["jvm"],
        "cpu.jvm_outside_tasks_s": cpu["jvm"] - stats["task_cpu_s"],
        "cpu.pyworker_s": cpu["pyworker"],
        "cpu.driver_py_s": cpu["driver_py"],
        "cpu.tritond_s": cpu["tritond"],
    }


def _cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


# ------------------------------------------------------ query workloads

def _canon(v):
    """One comparable Python value per cell, whichever engine made it."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        return pd.Timestamp(v).isoformat()
    return v


def digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive digest (columns by name)."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_canon(v) for v in row))
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), h


def run_queries(spark, workload: str, seed: int, seconds: float,
                workdir: str, tracer: Tracer) -> dict:
    import duckdb
    from corpus import write_corpus
    from go_triton_spark.operators import REGISTRY

    sf_dir = os.path.join(workdir, "corpus")
    write_corpus(sf_dir, seed)
    log("corpus written")
    rng = random.Random(seed)
    names = list(BASKETS[workload])
    attempted = failed = 0
    problems: list[str] = []

    # correctness pass: untimed, one collect per query checked against its
    # DuckDB oracle over the same tables; it also warms codegen and workers
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t)}.parquet'")
    for name in names:
        attempted += 1
        with tracer.span("check", name):
            try:
                got = digest(REGISTRY[name].spark(spark, sf_dir).toPandas())
                want = digest(con.sql(REGISTRY[name].oracle).df())
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                failed += 1
                problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
        if got != want:
            failed += 1
            problems.append(f"{name}: spark {got} != oracle {want}")
    con.close()
    log(f"checked {len(names)} queries")

    # untimed passes more: the first passes after the check still run
    # slower (and less steadily) while the JIT catches up; a query that
    # fails here fails again, and is counted, in the timed passes
    for _ in range(WARMUP_PASSES):
        for name in names:
            try:
                REGISTRY[name].spark(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:  # noqa: BLE001
                pass
    log("warm-up passes done")
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    stats = StageStats(spark) if tracer.enabled else None
    samples: dict[str, list[dict]] = {n: [] for n in names}
    steal: list[float] = []     # per timed pass
    t_start = time.perf_counter()
    passes = 0

    def more() -> bool:
        spent = time.perf_counter() - t_start
        undisturbed = sum(s <= STEAL_MAX for s in steal)
        return (passes < MIN_PASSES or spent < seconds
                or (undisturbed < MIN_PASSES
                    and spent < seconds + STEAL_WAIT_S))

    # whole passes, each in a fresh seeded order, until the window is
    # used up (at least MIN_PASSES)
    while more():
        vm0 = procstat.vm_ticks()
        order = names[:]
        rng.shuffle(order)
        for name in order:
            attempted += 1
            group = f"{name}#{passes}"
            if stats is not None:
                sc.setJobGroup(group, name)
            c0 = procstat.cpu_split()
            try:
                t0 = time.perf_counter()
                with tracer.span("query", group):
                    with tracer.span("operators", group):
                        df = REGISTRY[name].spark(spark, sf_dir)
                    t1 = time.perf_counter()
                    if stats is not None:
                        with tracer.span("spark_plan", group):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("spark_exec", group):
                        df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                failed += 1
                problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            cpu = _cpu_delta(c0, procstat.cpu_split())
            rec = {"wall": t3 - t0, "cpu": cpu["total"],
                   "operators.build_s": t1 - t0, "spark.plan_s": t2 - t1}
            if stats is not None:
                rec.update(_spark_layers(stats.take(), cpu, t3 - t0, cores))
                rec["spark.jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(group))
            rec["pass"] = passes
            samples[name].append(rec)
        if stats is not None:
            sc.setJobGroup("perfbench", "idle")
        steal.append(procstat.steal_share(vm0))
        passes += 1
        log(f"timed pass {passes} done, steal {steal[-1]:.3f}")
    by_steal = sorted(range(passes), key=steal.__getitem__)
    kept = {p for p in by_steal if steal[p] <= STEAL_MAX}
    kept.update(by_steal[:MIN_PASSES])

    def total(key):
        return sum(_median([r[key] for r in recs if r["pass"] in kept])
                   for recs in samples.values() if recs)

    out = {"e2e": {"query_wall_s": total("wall"),
                   "query_cpu_s": total("cpu")},
           "attempted": attempted, "failed": failed, "problems": problems,
           "passes": passes, "kept_passes": len(kept),
           "queries": len(names)}
    layers = {"operators.build_s": total("operators.build_s"),
              "vm.steal_share": statistics.fmean(steal)}
    if stats is not None:
        for key in PER_LAYER:
            if key.startswith(("spark.", "cpu.")) and key != "spark.core_util":
                layers[key] = total(key)
        layers["spark.plan_s"] = total("spark.plan_s")
        layers["spark.core_util"] = (layers["spark.task_run_s"]
                                     / (out["e2e"]["query_wall_s"] * cores))
    out["layers"] = layers
    return out


# ------------------------------------------------------ ingest workload

def _ingest_config(src_dir: str):
    from go_triton_spark.config import load_config

    return load_config(f"events:\n  name: events\n  partition_key: user_id\n"
                       f"  source: file\n  format: json\n  path: {src_dir}\n")


class Reader(threading.Thread):
    """Closed-loop ``cat`` poller: per-block counts, as fast as it can."""

    def __init__(self, eng, first_day: _dt.date, n_blocks: int,
                 tracer: Tracer):
        super().__init__(daemon=True)
        self.eng, self.first_day, self.n_blocks = eng, first_day, n_blocks
        self.tracer = tracer
        self.stop = threading.Event()
        self.warm = threading.Event()
        self.visible_at: dict[int, float] = {}
        self.plan_s: list[float] = []
        self.exec_s: list[float] = []
        self.polls = self.failed = self.retries = 0
        self.problems: list[str] = []
        self._last: dict[int, int] = {}

    def _poll(self):
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with self.tracer.span("archive_cat", self.polls):
            df = self.eng.cat("events", self.first_day,
                              _utc_now().date(), ordered=False)
        t1 = time.perf_counter()
        with self.tracer.span("archive_cat_exec", self.polls):
            rows = (df.groupBy(F.floor(F.col("event_id") / 1000).alias("b"))
                    .count().collect())
        t2 = time.perf_counter()
        return {r["b"]: r["count"] for r in rows}, t1 - t0, t2 - t1

    def run(self):
        while not self.stop.is_set() and len(self.visible_at) < self.n_blocks:
            if not os.path.isdir(os.path.join(self.eng.archive.root,
                                              "stream=events")):
                time.sleep(0.05)    # nothing archived yet: not a poll
                continue
            self.polls += 1
            for attempt in range(3):
                try:
                    counts, dp, de = self._poll()
                    break
                except Exception as exc:  # noqa: BLE001
                    # a cat racing a micro-batch write may fail once;
                    # the documented contract is to retry
                    err = f"{type(exc).__name__}: {exc}"[:300]
                    self.retries += 1
            else:
                self.failed += 1
                self.problems.append(f"cat failed 3 times: {err}")
                continue
            now = time.time()
            self.plan_s.append(dp)
            self.exec_s.append(de)
            for b, c in counts.items():
                if c < self._last.get(b, 0) or c > 1000:
                    self.failed += 1
                    self.problems.append(
                        f"block {b}: count {c} after {self._last.get(b, 0)}")
                if c == 1000 and b >= 0 and b not in self.visible_at:
                    self.visible_at[b] = now
            if all(counts.get(-b) == 1000
                   for b in range(1, WARMUP_BLOCKS + 1)):
                self.warm.set()
            self._last = counts


def _utc_now() -> _dt.datetime:
    return _dt.datetime.now(tz=_dt.timezone.utc)


def _backlog_files(src_dir: str, ckpt: str) -> int:
    """Batch files the daemon wrote that the store has not taken yet."""
    try:
        landed = sum(1 for f in os.listdir(src_dir) if f.endswith(".json"))
    except FileNotFoundError:
        return 0
    taken = set()
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        try:
            with open(log) as fh:
                for line in fh:
                    if line.startswith("{"):
                        taken.add(json.loads(line)["path"])
        except (OSError, ValueError, KeyError):
            continue    # a log file mid-write
    return max(0, landed - len(taken))


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def _flush_lag_p50(src_dir: str) -> float:
    lags = []
    for path in glob.glob(os.path.join(src_dir, "*.json")):
        stamp = int(os.path.basename(path).split("-")[0]) / 1000
        with open(path) as fh:
            for line in fh:
                ts = json.loads(line)["ts"]
                created = _dt.datetime.strptime(
                    ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                        tzinfo=_dt.timezone.utc).timestamp()
                lags.append(stamp - created)
    return _median(lags)


def run_ingest(spark, seed: int, seconds: float, workdir: str,
               tracer: Tracer, gen_cpu: int) -> dict:
    from go_triton_spark.engine import TritonEngine
    from go_triton_spark.types import EVENTS_SCHEMA

    root = os.path.join(workdir, "ingest")
    src_dir = os.path.join(root, "incoming", "events")
    os.makedirs(src_dir)
    total = int(INGEST_RATE * seconds) // 1000 * 1000
    n_blocks = total // 1000
    wire = os.path.join(HERE, "wire.py")
    problems: list[str] = []
    failed = 0

    daemon = subprocess.Popen(
        [sys.executable, wire, "daemon", os.path.join(root, "incoming")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    endpoint = daemon.stdout.readline().strip()
    eng = TritonEngine(spark, root, config=_ingest_config(src_dir),
                       client="bench")
    first_day = _utc_now().date()
    pipe = eng.store("events", schema=EVENTS_SCHEMA,
                     trigger_seconds=TRIGGER_S)
    stats = StageStats(spark) if tracer.enabled else None
    reader = Reader(eng, first_day, n_blocks, tracer)
    gen_json = os.path.join(workdir, "gen.json")
    t0 = time.perf_counter()
    gen = subprocess.Popen([sys.executable, wire, "gen", endpoint, str(seed),
                            str(INGEST_RATE), str(total), gen_json,
                            str(gen_cpu)],
                           stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                           text=True)
    gen.stdout.readline()
    reader.start()
    # warm-up: the first blocks through a fresh JVM wait on JIT and the
    # first micro-batches; the clock starts once they are queryable
    with tracer.span("ingest_warmup", seed):
        while not reader.warm.wait(0.25):
            if time.perf_counter() - t0 > DRAIN_TIMEOUT_S or \
                    not reader.is_alive():
                break
    log("warm-up blocks visible")
    gen.stdin.write("go\n")
    gen.stdin.close()
    c0 = procstat.cpu_split(tritond_pid=daemon.pid)
    vm0 = procstat.vm_ticks()
    t0 = time.perf_counter()
    if stats is not None:
        stats.take()
    backlog_max = 0
    ckpt = os.path.join(eng.checkpoint_root, "events-bench")
    with tracer.span("ingest", seed):
        deadline = None
        while reader.is_alive():
            if tracer.enabled:
                backlog_max = max(backlog_max, _backlog_files(src_dir, ckpt))
            if deadline is None and os.path.exists(gen_json):
                deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            if deadline is not None and time.perf_counter() > deadline:
                break
            if time.perf_counter() - t0 > seconds + GEN_STALL_S:
                break       # the generator itself is stuck
            reader.join(0.25)
    drained = time.perf_counter()
    log("ingest drained")
    # the generator has exited but is not reaped yet, so its CPU is
    # still its own and stays out of the system's share
    c1 = procstat.cpu_split(tritond_pid=daemon.pid, exclude=(gen.pid,))
    steal = procstat.steal_share(vm0)
    reader.stop.set()
    reader.join()
    gen.wait()
    if stats is not None:
        spark_stats = stats.take()
    progress = pipe.query.recentProgress
    pipe.stop()
    daemon.stdin.close()
    daemon_out = json.loads(daemon.stdout.read().strip().splitlines()[-1])
    daemon.wait()

    with open(gen_json) as fh:
        g = json.load(fh)
    lat = [reader.visible_at[b] - g["block_last"][b]
           for b in range(n_blocks) if b in reader.visible_at]
    missing = n_blocks - len(lat)
    if missing:
        failed += missing
        problems.append(f"{missing} of {n_blocks} blocks never became "
                        "fully visible")
    if g["late_max_s"] > TRIGGER_S:
        failed += 1
        problems.append(f"generator fell {g['late_max_s']:.3f}s behind "
                        "schedule: the offered load was not held")
    failed += reader.failed
    problems += reader.problems[:5]
    last_visible = max(reader.visible_at.values(), default=time.time())
    ingest_wall = last_visible - g["start"]

    files_before, bytes_before = _parquet_files(eng.archive.root)
    days = []
    d = first_day
    while d <= _utc_now().date():
        days.append(d)
        d += _dt.timedelta(days=1)
    t = time.perf_counter()
    with tracer.span("archive_compact"):
        for day in days:
            # the store is stopped, so no hour is still being written; a
            # negative minimum age admits the current hour too
            eng.archive.compact("events", day, "bench", min_age_hours=-1)
    compact_s = time.perf_counter() - t
    log("archive compacted")
    files_after, _ = _parquet_files(eng.archive.root)

    # outputs, outside every timed window; the checks also warm the
    # replay path
    from pyspark.sql import functions as F

    replay = eng.cat("events", days[0], days[-1])
    n, distinct = replay.agg(F.count("*"), F.countDistinct("event_id")).first()
    sent = total + WARMUP_BLOCKS * 1000
    if n != sent or distinct != sent:
        failed += abs(sent - distinct) + (n - distinct)
        problems.append(f"archived {n} rows, {distinct} distinct ids, "
                        f"sent {sent}")
    sorts = replay.select("_archive_sort").toPandas()["_archive_sort"]
    if not sorts.is_monotonic_increasing:
        failed += 1
        problems.append("ordered replay is not sorted by _archive_sort")
    log("outputs checked")

    replays = []
    for k in range(REPLAYS):
        t = time.perf_counter()
        with tracer.span("archive_replay", k):
            eng.cat("events", days[0], days[-1]).write.format("noop") \
                .mode("overwrite").save()
        replays.append(time.perf_counter() - t)
    log("replays done")

    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys) / 1e3

    out = {
        "e2e": {
            "ingest_wall_s": ingest_wall,
            "ingest_rps": total / ingest_wall if ingest_wall > 0 else 0.0,
            "visible_p50_s": _median(lat),
            "visible_p95_s": _pct(lat, 0.95),
            "replay_s": _median(replays),
            "ingest_cpu_s": c1["total"] - c0["total"],
        },
        "attempted": total + reader.polls + REPLAYS,
        "failed": failed, "problems": problems,
        "blocks": n_blocks, "polls": reader.polls, "visible_s": lat,
        "cat_retries": reader.retries,
    }
    layers = {
        "gen.late_max_s": g["late_max_s"],
        "tritond.received": daemon_out["received"],
        "tritond.files": len(glob.glob(os.path.join(src_dir, "*.json"))),
        "store.batches": len(batches),
        "store.batch_p50_s": _median([dur(p, "triggerExecution")
                                      for p in batches]),
        "store.batch_max_s": max([dur(p, "triggerExecution")
                                  for p in batches], default=0.0),
        "store.add_batch_s": _median([dur(p, "addBatch") for p in batches]),
        "store.offsets_s": _median([dur(p, "latestOffset", "getBatch")
                                    for p in batches]),
        "store.wal_commit_s": _median([dur(p, "walCommit")
                                       for p in batches]),
        "store.rows_per_batch": _median([p["numInputRows"]
                                         for p in batches]),
        "store.backlog_files_max": backlog_max,
        "archive.cat_plan_p50_s": _median(reader.plan_s),
        "archive.cat_exec_p50_s": _median(reader.exec_s),
        "archive.files": files_before,
        "archive.bytes_per_record": bytes_before / sent,
        "archive.compact_s": compact_s,
        "archive.files_after_compact": files_after,
        "vm.steal_share": steal,
    }
    if stats is not None:
        cpu = _cpu_delta(c0, c1)
        layers.update(_spark_layers(spark_stats, cpu, drained - t0,
                                    spark.sparkContext.defaultParallelism))
        layers["tritond.flush_lag_p50_s"] = _flush_lag_p50(src_dir)
    out["layers"] = layers
    return out


# --------------------------------------------------------------- main

def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, workdir, spawned_at, gen_cpu = argv
    seed, seconds, spawned_at = int(seed), float(seconds), float(spawned_at)
    tracer = Tracer(trace == "1")
    spark, setup_metrics = setup(spawned_at, tracer)
    log(f"session ready after {setup_metrics['setup_s']:.2f}s")
    if workload == "ingest_live":
        out = run_ingest(spark, seed, seconds, workdir, tracer, int(gen_cpu))
    else:
        out = run_queries(spark, workload, seed, seconds, workdir, tracer)
    log("workload done")
    spark.stop()
    out["e2e"]["setup_s"] = setup_metrics.pop("setup_s")
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(setup_metrics)
    layers.update(out.pop("layers"))
    if tracer.enabled:
        selfs = tracer.self_times()
        for name in ("session", "operators", "spark_plan", "spark_exec",
                     "check", "archive_compact", "archive_replay", "ingest"):
            layers[f"self.{name}_s"] = selfs.get(name, 0.0)
        layers["self.archive_cat_s"] = (selfs.get("archive_cat", 0.0)
                                        + selfs.get("archive_cat_exec", 0.0))
        with open(os.path.join(workdir, "spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    out["layers"] = layers
    with open(os.path.join(workdir, "result.json"), "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
