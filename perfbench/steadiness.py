#!/usr/bin/env python3
"""Steadiness study: run the benchmark once per seed, one run at a time,
and report each end-to-end metric's median and its spread, the
interquartile range as a share of the median (statistics.quantiles with
n=4, the rule BENCHMARK.json's bounds are checked against).

    python3 perfbench/steadiness.py --seeds 1-10 --seconds 15 --trace \
        --out set1.json
    python3 perfbench/steadiness.py --seeds 11-20 --seconds 15 \
        --previous set1.json --out perfbench/steadiness.json

With --trace, each workload also gets one traced run; its trace.op_p50_s
minus the untraced op_p50_s median is the tracing overhead. With
--previous, the report also holds that earlier study and records, per
metric, how far each median moved from it (the check that two sets of
runs of the same code agree within the bounds).
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    lines = p.stdout.strip().splitlines()
    out = {"seed": seed, "rc": p.returncode,
           "wall_s": round(time.perf_counter() - t0, 1)}
    if p.returncode == 0 and len(lines) >= 2:
        out["detail"] = json.loads(lines[-2])
        out["result"] = json.loads(lines[-1])
    else:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def combine(prev: dict, out: dict) -> dict:
    """Attach an earlier study of the same code to this one: the whole
    earlier study under "previous", and under "worse_by", per workload and
    metric, the share by which this study's median is worse than the
    earlier one's (negative: better), per BENCHMARK.json's direction.
    That share is the second check of two sets of runs, next to each
    set's own spread."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        higher = {m["name"] for m in json.load(fh)["end_to_end"]
                  if m["better"] == "higher"}
    worse_by = {}
    for wl, entry in out["workloads"].items():
        if wl not in prev["workloads"]:
            continue
        before = prev["workloads"][wl]["metrics"]
        worse_by[wl] = {
            name: (1 - m["median"] / before[name]["median"]
                   if name in higher else
                   m["median"] / before[name]["median"] - 1)
            for name, m in entry["metrics"].items()}
    return dict(out, previous=prev, worse_by=worse_by)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="indexer_daemon,batch_headline")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    ap.add_argument("--previous", default=None,
                    help="an earlier study's JSON: record how far each "
                         "median moved from it")
    args = ap.parse_args()

    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            r = one_run(wl, s, args.seconds, 0)
            print(json.dumps({"workload": wl, "seed": s, "rc": r["rc"],
                              "wall_s": r["wall_s"]}), flush=True)
            runs.append(r)
        ok = [r for r in runs if "result" in r and r["result"]["correct"]]
        metrics = {}
        for name in ok[0]["result"]["metrics"] if ok else []:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            metrics[name] = {
                "median": statistics.median(vals),
                "iqr_over_median": spread(vals) if len(vals) >= 2 else None,
                "values": vals,
            }
        entry = {
            "runs": len(runs), "correct_runs": len(ok),
            "wall_s": [r["wall_s"] for r in runs],
            "box_probe_s": [r["detail"]["box_probe_s"] for r in ok],
            "workload_metrics": [r["detail"]["workload_metrics"] for r in ok],
            "metrics": metrics,
        }
        if args.trace and ok:
            t = one_run(wl, seeds(args.seeds)[0], args.seconds, 1)
            if "result" in t:
                traced = t["result"]["metrics"]["trace.op_p50_s"]["value"]
                entry["trace_overhead_s"] = (
                    traced - metrics["op_p50_s"]["median"])
                entry["traced_run_wall_s"] = t["wall_s"]
                entry["traced_per_layer"] = {
                    k: v["value"] for k, v in t["result"]["metrics"].items()}
        report[wl] = entry
        print(json.dumps({wl: {k: {"median": v["median"],
                                   "spread": v["iqr_over_median"]}
                               for k, v in metrics.items()}}), flush=True)
    out = {"seconds": args.seconds, "seeds": args.seeds,
           "cores": len(os.sched_getaffinity(0)), "workloads": report}
    if args.previous:
        with open(args.previous) as fh:
            out = combine(json.load(fh), out)
        print(json.dumps(out["worse_by"]), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
