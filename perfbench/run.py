#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload indexer_daemon --seed 1 \
        --seconds 15 --trace 0

Workloads: indexer_daemon, batch_headline (see README.md). Prints progress
lines, then one detail JSON line (seed, why, box probe, the workload's
own metric names, the gate verdicts), then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits 1 when the
correctness gate fails, 2 when the program is not importable.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (ROOT, box_probe, cleanup, cores, make_workdir,  # noqa: E402
                     median, start_spark, stop_spark)
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("indexer_daemon", "batch_headline")


class Context:
    def __init__(self, spark, workdir, seed, seconds, tracer, tiny):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.seconds, self.tracer, self.tiny = seconds, tracer, tiny
        self.setup_samples: list[float] = []

    def setup(self, build, repeats: int):
        """Set the program up `repeats` times and keep the last one. Each
        set-up starts a fresh Spark session on the running JVM and then
        calls build(spark, i); setup_s is the median of their times. The
        JVM launch itself happens once per run (jvm_start_s)."""
        out = None
        for i in range(repeats):
            t0 = time.perf_counter()
            self.spark.stop()  # the JVM keeps running
            self.spark = start_spark(self.workdir)
            out = build(self.spark, i)
            self.setup_samples.append(time.perf_counter() - t0)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (selftest.py)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "moc_indexer_spark")):
        print("moc_indexer_spark is not next to perfbench/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "indexer_daemon":
        import indexer_daemon as workload
    else:
        import batch_headline as workload
    from spans import Tracer

    workdir = make_workdir(args.workload, args.seed)
    ctx = None
    try:
        spark = start_spark(workdir)
        jvm_start_s = time.perf_counter() - T_START
        ctx = Context(spark, workdir, args.seed, args.seconds,
                      Tracer() if args.trace else None, args.tiny)
        probe_s = box_probe(spark)
        out = workload.run(ctx)
    finally:
        if ctx is not None:
            stop_spark(ctx.spark)
        cleanup(workdir)

    ops, checks = out["ops"], out["checks"]
    correct = bool(checks) and all(checks.values())
    if args.trace:
        values = {n: out["layers"].get(n, 0) for n, _ in PER_LAYER}
        catalog = PER_LAYER
    else:
        values = dict(out["e2e"], setup_s=median(ctx.setup_samples))
        catalog = END_TO_END
    detail = {
        "workload": args.workload, "seed": args.seed, "why": out["why"],
        "cores": cores(), "box_probe_s": round(probe_s, 4),
        "jvm_start_s": round(jvm_start_s, 4),
        "setup_samples_s": [round(x, 4) for x in ctx.setup_samples],
        "seconds": args.seconds, "trace": args.trace,
        "workload_metrics": out["named"],
        "gate": checks, "errors": ops.errors[:10],
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in catalog},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
