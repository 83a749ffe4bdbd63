#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes (--tiny: a 400-block
backlog, sf 0.002 tables, a 1 s window):

- both workloads, untraced and traced, exit 0 with correct=true, no
  failed operation, a gate that ran, at least three timed set-ups, and
  every catalog metric printed once with its unit;
- BENCHMARK.json lists exactly the catalog's metrics and workloads;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.

    python3 perfbench/selftest.py        (about four minutes on 4 cores)
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_catalog() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER


def check_run(workload: str, trace: int) -> None:
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert detail["gate"] and all(detail["gate"].values()), detail["gate"]
    assert len(detail["setup_samples_s"]) >= 3  # setup_s is a median
    catalog = PER_LAYER if trace else END_TO_END
    got = [(n, m["unit"]) for n, m in result["metrics"].items()]
    assert got == catalog, (workload, trace)
    for n, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), n
        if not trace:
            assert m["value"] > 0, n
    print(f"ok {workload} trace={trace}", flush=True)


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(bare, "--workload", WORKLOADS[0], "--seed", "1",
                 "--seconds", "1", "--trace", "0")
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))  # only if no run is using it
        except OSError:
            pass
    print("ok bare directory fails", flush=True)


def main() -> None:
    check_catalog()
    for wl in WORKLOADS:
        for trace in (0, 1):
            check_run(wl, trace)
    check_bare_dir()
    print("selftest passed")


if __name__ == "__main__":
    main()
