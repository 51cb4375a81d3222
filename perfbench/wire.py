"""The two side processes of the ``ingest_live`` workload.

    python3 perfbench/wire.py daemon OUT_ROOT
        Runs a ``tritond.TritondDaemon`` writing batch files under
        OUT_ROOT, prints its endpoint on one stdout line, and serves until
        its stdin closes. It then stops (flushing what it holds) and
        prints ``{"received": N, "flushed": N}``.

    python3 perfbench/wire.py gen ENDPOINT SEED RATE TOTAL OUT_JSON CPU
        Open-loop load, run on CPU alone (the system under test runs on
        the other CPUs): one ``tritond.ZmqClient`` (one ZMTP connection)
        sends TOTAL records at a fixed RATE records/s, whatever the
        system does. Record i is due at start + i / RATE; lateness is the
        send time minus the due time. Each record carries a seeded
        user/event mix and its creation time in ``ts``. Before the clock
        starts it sends WARMUP_BLOCKS blocks with negative ids, prints
        ``warm`` and waits for a line on stdin. Writes the schedule facts
        to OUT_JSON, then exits.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BLOCK = 1000
WARMUP_BLOCKS = 2
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_WEIGHTS = (50, 30, 10, 5, 5)


def daemon_main(out_root: str) -> int:
    from go_triton_spark.tritond import TritondDaemon

    daemon = TritondDaemon(out_root)
    print(daemon.endpoint, flush=True)
    sys.stdin.read()            # parent closes stdin to stop us
    daemon.stop()
    print(json.dumps({"received": daemon.received,
                      "flushed": daemon.flushed}), flush=True)
    return 0


def gen_main(endpoint: str, seed: int, rate: float, total: int,
             out_json: str, cpu: int) -> int:
    from go_triton_spark.tritond import ZmqClient

    os.sched_setaffinity(0, {cpu})
    rng = random.Random(seed)
    users = [int(rng.paretovariate(1.2)) % 5000 for _ in range(total)]
    kinds = rng.choices(EVENT_TYPES, EVENT_WEIGHTS, k=total)
    values = [round(rng.expovariate(1 / 50), 2) for _ in range(total)]
    client = ZmqClient(endpoint, num_idle_conn=1)

    def put(i: int, now: float) -> None:
        u = users[i % total]
        client.put("events", str(u), {
            "event_id": i,
            "ts": _dt.datetime.fromtimestamp(now, _dt.timezone.utc)
                    .strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
            "user_id": u,
            "event_type": kinds[i % total],
            "value": values[i % total],
            "props": json.dumps({"k": u % 100}),
        })

    # warm-up blocks (negative ids) go out at once; the parent waits until
    # they are queryable, then starts the clock through our stdin
    for i in range(-WARMUP_BLOCKS * BLOCK, 0):
        put(i, time.time())
    print("warm", flush=True)
    sys.stdin.readline()
    late_max = 0.0
    block_last: list[float] = []
    start = time.time() + 0.05
    for i in range(total):
        due = start + i / rate
        now = time.time()
        if now < due:
            time.sleep(due - now)
            now = time.time()
        late_max = max(late_max, now - due)
        put(i, now)
        if i % BLOCK == BLOCK - 1:
            block_last.append(now)
    end = time.time()
    client.close()
    tmp = out_json + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"start": start, "end": end, "sent": total,
                   "late_max_s": late_max, "block_last": block_last,
                   "cpu_s": time.process_time()}, fh)
    os.rename(tmp, out_json)
    return 0


if __name__ == "__main__":
    if sys.argv[1] == "daemon":
        sys.exit(daemon_main(sys.argv[2]))
    sys.exit(gen_main(sys.argv[2], int(sys.argv[3]), float(sys.argv[4]),
                      int(sys.argv[5]), sys.argv[6], int(sys.argv[7])))
