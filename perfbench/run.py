"""go_triton_spark benchmark: ingest -> archive -> replay, and two query baskets.

    python3 perfbench/run.py --workload {ingest_live,query_light,query_heavy,all}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. ``--workload all`` runs the
three workloads one after another. The program under test runs in a
child process (``worker.py``) on every usable CPU but one (the load
generator has that one, see ``cpu_plan``), with a pinned environment
built here:
``SPARK_GRAFT_EXTRA_CONFS``, ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` and
``TRITON_NATIVE_DECODE`` are removed (and reported on stderr if they
were set), ``SPARK_GRAFT_CPUS`` is the worker's CPU count, and every
scratch directory lives under ``.bench_build/perfbench/`` in the
checkout. This process samples the resident memory of the child's
process tree and prints a readable report with every end-to-end metric
of the workload by name and unit (``E2E_UNITS``). The last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` its metrics are ``setup_s`` and the two figures every
workload has (``HEADLINE``): ``latency_s`` and ``cpu_s``. With
``--trace 1`` they are the per-layer metrics plus the traced run's own
end-to-end figures (``traced.*``), and the run's spans are kept in
``.bench_build/perfbench/traces/``. The exit code is non-zero, with no
JSON line, when a run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from worker import (DRAIN_TIMEOUT_S, GEN_STALL_S, PER_LAYER,  # noqa: E402
                    REPLAYS, STEAL_WAIT_S)

WORKLOADS = ("ingest_live", "query_light", "query_heavy")
IGNORED_ENV = ("SPARK_GRAFT_EXTRA_CONFS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
               "TRITON_NATIVE_DECODE")
# every end-to-end metric, by name and unit; a workload reports the ones
# it measures
E2E_UNITS = {
    "setup_s": "s", "query_wall_s": "s", "query_cpu_s": "s",
    "ingest_wall_s": "s", "ingest_rps": "records/s", "visible_p50_s": "s", "visible_p95_s": "s",
    "replay_s": "s", "ingest_cpu_s": "s", "rss_peak_mb": "MB",
    "fail_frac": "ratio",
}
# The JSON line has one metric set for every workload, so each headline
# metric names the workload's own figure for it. For ingest that is the
# time from the first send until every record is queryable, not the
# per-block visibility latency: with the store near its capacity, the
# median of that moved by a fifth between two sets of ten seeds (spread
# 0.19 and 0.23), while the whole-run figure kept within a twentieth.
HEADLINE = {
    "latency_s": {"query_light": "query_wall_s", "query_heavy": "query_wall_s",
                  "ingest_live": "ingest_wall_s"},
    "cpu_s": {"query_light": "query_cpu_s", "query_heavy": "query_cpu_s",
              "ingest_live": "ingest_cpu_s"},
}
SETUP_ALLOWANCE_S = 60.0
# what a run may take beyond setup and --seconds before it counts as hung:
# ingest has a warm-up wait, a stalled-generator limit, a drain limit, and
# then compaction, REPLAYS replays and the output checks; a query run has
# its cold check pass, its warm-up passes, the passes that wait out steal
# and the pass that crosses the end of the window
PHASE_ALLOWANCE_S = {
    "ingest_live": 2 * DRAIN_TIMEOUT_S + GEN_STALL_S + 10 * (REPLAYS + 3),
    "query_light": 60.0 + STEAL_WAIT_S, "query_heavy": 90.0 + STEAL_WAIT_S,
}
PER_LAYER_ALL = PER_LAYER + [f"traced.{k}" for k in E2E_UNITS]


def layer_unit(name: str) -> str:
    if name.startswith("traced."):
        return E2E_UNITS[name[len("traced."):]]
    if name.endswith("_s"):
        return "s"
    return {"spark.shuffle_write_bytes": "bytes",
            "archive.bytes_per_record": "bytes/record",
            "spark.core_util": "ratio",
            "vm.steal_share": "ratio"}.get(name, "count")


def cpu_plan() -> tuple[list[int], int]:
    """The CPUs of the system under test, and the load generator's CPU.

    The system gets every usable CPU but one. On a shared virtual machine
    a run that keeps every vCPU busy loses about a seventh of its CPU time
    to steal, and its wall times spread about twice as wide from run to
    run (query_light: quartile spread 0.22 of the median on four CPUs,
    0.12 on three, and no slower). The spare CPU also keeps the load
    generator from competing with the system it loads."""
    cpus = sorted(os.sched_getaffinity(0))
    return (cpus[1:] or cpus), cpus[0]


def child_env(workdir: str, ncpus: int) -> tuple[dict[str, str],
                                                  dict[str, str]]:
    """The worker's environment, and the variables dropped from ours."""
    env = dict(os.environ)
    ignored = {k: env.pop(k) for k in IGNORED_ENV if k in env}
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env.update({
        "SPARK_GRAFT_CPUS": str(ncpus),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONUNBUFFERED": "1",
    })
    return env, ignored


class RssSampler(threading.Thread):
    """Peak resident memory of the worker's tree (load generator excluded)."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0.0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.2):
            self.peak = max(self.peak, procstat.tree_rss_mb(
                self.pid, skip_cmd="wire.py\0gen"))


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getsid(int(entry)) == sid:
                    pids.append(int(entry))
            except OSError:
                pass
    return pids


def _reap_session(sid: int) -> None:
    """Kill whatever the worker left behind and wait until it is gone."""
    deadline = time.time() + 10
    while time.time() < deadline:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)


def run_once(workload: str, seed: int, seconds: float,
             trace: bool) -> dict | None:
    """One worker run; its result with every end-to-end metric in
    ``e2e``, or None (reason on stderr) when it did not complete."""
    base = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    workdir = os.path.join(base, f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    system_cpus, gen_cpu = cpu_plan()
    env, ignored = child_env(workdir, len(system_cpus))
    for k, v in ignored.items():
        print(f"perfbench: ignoring {k}={v!r}", file=sys.stderr)

    log_path = os.path.join(workdir, "worker.log")
    timeout = SETUP_ALLOWANCE_S + seconds + PHASE_ALLOWANCE_S[workload]
    # this process and its memory sampler keep off the system's CPUs
    own_cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {gen_cpu})
    with open(log_path, "w") as log:
        spawned_at = time.time()
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), workload,
             str(seed), str(seconds), str(int(trace)), workdir,
             repr(spawned_at), str(gen_cpu)],
            env=env, cwd=workdir, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
            preexec_fn=lambda: os.sched_setaffinity(0, system_cpus))
        rss = RssSampler(worker.pid)
        rss.start()
        try:
            code = worker.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        rss.done.set()
        rss.join()
        _reap_session(worker.pid)
        if code is None:
            worker.wait()
    os.sched_setaffinity(0, own_cpus)

    result_path = os.path.join(workdir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        status = (f"timed out after {timeout:.0f}s" if code is None
                  else f"exited with {code}")
        print(f"perfbench: {workload} worker {status}; log tail:\n{tail}",
              file=sys.stderr)
        shutil.rmtree(workdir, ignore_errors=True)
        return None
    with open(result_path) as fh:
        res = json.load(fh)
    res["e2e"]["rss_peak_mb"] = rss.peak
    res["e2e"]["fail_frac"] = res["failed"] / res["attempted"]
    if trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(os.path.join(workdir, "spans.json"),
                    os.path.join(traces, f"{workload}-seed{seed}.json"))
        for k in E2E_UNITS:
            res["layers"][f"traced.{k}"] = res["e2e"].get(k, 0.0)
    shutil.rmtree(workdir, ignore_errors=True)
    res["workload"] = workload
    return res


def line_metrics(res: dict, trace: bool) -> dict:
    """The metrics of one workload's JSON line."""
    if trace:
        return {k: {"value": res["layers"][k], "unit": layer_unit(k)}
                for k in PER_LAYER_ALL}
    e2e, w = res["e2e"], res["workload"]
    out = {"setup_s": {"value": e2e["setup_s"], "unit": "s"}}
    for name, by_workload in HEADLINE.items():
        out[name] = {"value": e2e[by_workload[w]], "unit": "s"}
    return out


def report(res: dict, trace: bool) -> None:
    w = res["workload"]
    print(f"perfbench {w}: {res['attempted']} operations, "
          f"{res['failed']} failed")
    for name, unit in E2E_UNITS.items():
        if name in res["e2e"]:
            print(f"  {name:32s} {res['e2e'][name]:>14.4f} {unit}")
    if w == "ingest_live":
        print(f"  {res['blocks']} blocks, {res['polls']} cat polls")
    else:
        print(f"  {res['queries']} queries x {res['passes']} timed passes, "
              f"{res['kept_passes']} of them measured (least steal)")
    if trace:
        for name in PER_LAYER_ALL:
            print(f"  {name:32s} {res['layers'][name]:>14.4f} "
                  f"{layer_unit(name)}")
    for p in res["problems"][:10]:
        print(f"  problem: {p}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("go_triton_spark"):
        print("perfbench: run from the root of a go_triton_spark checkout",
              file=sys.stderr)
        return 2

    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for w in workloads:
        res = run_once(w, args.seed, args.seconds, bool(args.trace))
        if res is None:
            return 1
        report(res, bool(args.trace))
        results.append(res)
    if len(results) == 1:
        metrics = line_metrics(results[0], bool(args.trace))
    else:
        metrics = {f"{r['workload']}.{k}": m for r in results
                   for k, m in line_metrics(r, bool(args.trace)).items()}
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
