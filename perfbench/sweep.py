"""Repeated benchmark runs, summarised the way the benchmark is judged.

    python3 perfbench/sweep.py --workloads ingest_live,query_light,query_heavy
        --seeds 1-10 --seconds 10 [--trace 1] [--against SET.json] --out OUT.json

Runs ``run.py``'s ``run_once`` for every workload and seed, one run at a
time, from the root of a source checkout. For each metric of the JSON
line and each end-to-end metric by its own name it reports the median,
the quartiles (``statistics.quantiles(values, n=4)``) and the spread:
the distance between the quartiles as a share of the median. With
``--against`` it also gives each median as a share of the median of the
same workload and metric in an earlier set; for a traced set that share,
minus one, is the tracing overhead. Everything goes to OUT.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import WORKLOADS, line_metrics, run_once  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--against")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    earlier = {}
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)["summary"]

    runs, summary = [], {}
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            res = run_once(w, seed, args.seconds, trace)
            if res is None:
                print(f"sweep: {w} seed {seed} did not complete",
                      file=sys.stderr)
                return 1
            metrics = {k: m["value"]
                       for k, m in line_metrics(res, trace).items()}
            metrics.update(res["e2e"])
            runs.append({"workload": w, "seed": seed,
                         "attempted": res["attempted"],
                         "failed": res["failed"],
                         "problems": res["problems"][:5],
                         "metrics": metrics})
            for k, v in metrics.items():
                values.setdefault(k, []).append(v)
            print(f"sweep: {w} seed {seed}: failed {res['failed']}/"
                  f"{res['attempted']}", flush=True)
        summary[w] = {k: summarise(v) for k, v in values.items()}
        for k, s in summary[w].items():
            base = earlier.get(w, {}).get(k.removeprefix("traced."))
            if base and base["median"]:
                s["vs_against"] = s["median"] / base["median"]
            extra = (f"  x{s['vs_against']:.3f} of --against"
                     if "vs_against" in s else "")
            print(f"  {w:12s} {k:32s} median {s['median']:14.4f} "
                  f"spread {s['spread']:7.3f}{extra}")
    with open(args.out, "w") as fh:
        json.dump({"seconds": args.seconds, "trace": args.trace,
                   "summary": summary, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
