#!/usr/bin/env python
"""Multi-PROCESS compact soak: N real Spark processes cron-compacting
the same hour while each also backfill-ingests fragments — the true
deployment shape of the per-hour advisory lock (the thread-based
race matrix shares one process; O_EXCL and the steal protocol are
cross-process claims and deserve a cross-process test).

Each worker loops: ingest a 1-row fragment (job-unique event_id) ->
compact the hour (min_age_hours=0 so every pass is hot). The final
invariant is EXACT-ONCE: total rows == distinct event_ids == total
successful ingests across workers. A fragment that lands between a
compaction's listing and its commit must stay live exactly once: a
marker that also named it as retired loses it (count check), one
that left a peer's rewrite of it live doubles it (distinct check).

Usage: python tools/stress_mp_compact.py [SECONDS] [WORKERS]
Prints WORKER lines, a CHECK line, and MP-COMPACT-SOAK PASS/FAIL.
"""
from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_WORKER = r'''
import sys, os, time, json, datetime as dt
sys.path.insert(0, %(repo)r)
root, ident, seconds = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
from go_triton_spark.session import builder
from go_triton_spark.plans.archive_store import ArchiveStore
from go_triton_spark.types import EVENTS_SCHEMA
UTC = dt.timezone.utc
spark = (builder(f"mp-compact-{ident}")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
store = ArchiveStore(spark, root)
when = dt.datetime(2020, 1, 1, 3, tzinfo=UTC)
ops = {"ingests": 0, "compacts": 0, "locked": 0, "contended": 0,
       "errors": 0}
t0 = time.monotonic(); k = 0
base = 100_000 * ident
while time.monotonic() - t0 < seconds:
    k += 1
    df = spark.createDataFrame(
        [(base + k, dt.datetime(2020, 1, 1, 3, 30, tzinfo=UTC), 0,
          "click", 1.0, {"k": "v"})], schema=EVENTS_SCHEMA)
    try:
        store.ingest_dataframe(df, "events", "archive", when=when)
        ops["ingests"] += 1
    except Exception as e:
        ops["errors"] += 1
        print(f"INGESTERR {type(e).__name__}: {e}", file=sys.stderr)
        continue
    try:
        st = store.compact("events", when.date(), "archive",
                           min_age_hours=0.0)
        ops["compacts"] += st["hours"]
        ops["locked"] += st["hours_locked"]
        ops["contended"] += st["hours_contended"]
    except Exception as e:
        msg = str(e)
        if ("FILE_NOT_EXIST" in msg or "FileNotFound" in msg
                or "PATH_NOT_FOUND" in msg):
            ops["contended"] += 1   # documented loud-retry class
        else:
            ops["errors"] += 1
            print(f"COMPACTERR {type(e).__name__}: {msg[:200]}",
                  file=sys.stderr)
print("WORKER " + json.dumps({"id": ident, **ops}), flush=True)
spark.stop()
'''


def main() -> int:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 75.0
    workers = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(tempfile.mkdtemp(prefix="mp_compact_"),
                          "worker.py")
    with open(script, "w") as fh:
        fh.write(_WORKER % {"repo": repo})
    root = os.path.join(os.path.dirname(script), "archive")
    procs = [subprocess.Popen(
        [sys.executable, script, root, str(i + 1), str(seconds)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for i in range(workers)]
    total_ing = 0
    errors = 0
    for p in procs:
        out, err = p.communicate()
        for line in out.splitlines():
            if line.startswith("WORKER "):
                w = json.loads(line[7:])
                total_ing += w["ingests"]
                errors += w["errors"]
                print(line, flush=True)
        for line in err.splitlines():
            if "ERR" in line:
                print("STDERR:", line, flush=True)

    from go_triton_spark.plans.archive_store import ArchiveStore
    from go_triton_spark.session import builder
    spark = builder("mp-compact-check").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    store = ArchiveStore(spark, root)
    df = store.cat("events", dt.date(2020, 1, 1), client="archive")
    rows = df.count()
    distinct = df.select("event_id").distinct().count()
    print(f"CHECK ingested={total_ing} rows={rows} distinct={distinct} "
          f"worker_errors={errors}")
    ok = rows == total_ing == distinct and errors == 0
    print("MP-COMPACT-SOAK " + ("PASS" if ok else "FAIL"))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
