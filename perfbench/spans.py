"""Traced-run instrumentation, installed from outside the program.

Spans are recorded around calls into each layer's public functions by
substituting module attributes and class methods with timing wrappers
(`install_*`). Spans stay in memory; the workload turns them into
per-layer metrics at the end of the run. Spark scheduling counts are
attributed to an operation by job-id range: every job whose id is above
the last id seen before the operation belongs to it. Job-group properties
do not reach the Indexer's upsert pool threads, so groups cannot be used.
"""
from __future__ import annotations

import functools
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, str, float, float]] = []  # kind, tag, t0, t1
        # (time, "delta" | "fold", table, parquet bytes the call wrote)
        self.bytes: list[tuple[float, str, str, int]] = []
        self._lock = threading.Lock()

    def wrap(self, kind: str, fn, tag_fn=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tag = tag_fn(*args) if tag_fn else ""
                with self._lock:
                    self.spans.append((kind, tag, t0, time.perf_counter()))
        return traced

    def span(self, kind: str, t0: float, t1: float, tag: str = "") -> None:
        with self._lock:
            self.spans.append((kind, tag, t0, t1))

    def within(self, kind: str, t0: float, t1: float) -> list[tuple]:
        """Spans of `kind` that started inside [t0, t1]."""
        return [s for s in self.spans if s[0] == kind and t0 <= s[2] <= t1]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (concurrent children count once)."""
    total, end = 0.0, -float("inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _table_name(self, *_):
    return os.path.basename(self.path)


def dir_bytes(path: str) -> int:
    """Exact parquet bytes under path, from the filesystem."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _measured(tracer: Tracer, fn, kind: str, newest_only: bool):
    """After each call, record the parquet bytes it wrote: the newest delta
    dir for an upsert (an append), the whole table for a compaction."""
    @functools.wraps(fn)
    def call(self, *args, **kwargs):
        out = fn(self, *args, **kwargs)
        seqs = self.history()
        path = (os.path.join(self.path, f"__seq={seqs[-1]}")
                if newest_only and seqs else self.path)
        with tracer._lock:
            tracer.bytes.append((time.perf_counter(), kind,
                                 _table_name(self), dir_bytes(path)))
        return out
    return call


def install_indexer(tracer: Tracer) -> None:
    """Wrap the indexer's layers: chain scan build and event-plan build
    (both bound into moc_indexer_spark.app at import, so patched there),
    the sink's upsert/compact/read, and the Indexer's cycle entry points."""
    from moc_indexer_spark import app
    from moc_indexer_spark.streaming.sink import ParquetUpsertTable

    app.scan_blocks = tracer.wrap("chain.scan_build", app.scan_blocks)
    app.run_event_pipeline = tracer.wrap(
        "events.build", app.run_event_pipeline
    )
    P = ParquetUpsertTable
    for meth, kind in (("upsert", "sink.upsert"), ("compact", "sink.compact"),
                       ("read", "sink.read")):
        setattr(P, meth, tracer.wrap(kind, getattr(P, meth), _table_name))
    # byte accounting outside the spans, so it adds nothing to their time
    P.upsert = _measured(tracer, P.upsert, "delta", newest_only=True)
    P.compact = _measured(tracer, P.compact, "fold", newest_only=False)
    app.Indexer.run_incremental = tracer.wrap(
        "app.tick", app.Indexer.run_incremental
    )
    app.Indexer.run_balance_refresh = tracer.wrap(
        "app.balance_refresh", app.Indexer.run_balance_refresh
    )


def counting_fetcher(spark, fetcher):
    """Wrap the injected BlockFetcher: worker-side fetch seconds and block
    counts come back to the driver through accumulators. The wrapper is
    a closure so it pickles by value (workers need not import this
    module)."""
    sc = spark.sparkContext
    acc_s, acc_n = sc.accumulator(0.0), sc.accumulator(0)

    def fetch(block_number):
        t0 = time.perf_counter()
        out = fetcher(block_number)
        acc_s.add(time.perf_counter() - t0)
        acc_n.add(1)
        return out

    return fetch, acc_s, acc_n


class JobAttribution:
    """Jobs, stages, tasks and bytes per operation, from the status store.
    Skipped stages (AQE reuse) are not counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.last = self._max_id()

    def _max_id(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def take(self) -> dict[str, float]:
        """Counts for every job since the previous call."""
        top = self._max_id()
        out = {"jobs": 0, "stages": 0, "tasks": 0,
               "input_bytes": 0, "shuffle_write_bytes": 0}
        store = self.jsc.statusStore()
        for j in range(self.last + 1, top + 1):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001  (evicted from the store)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        self.last = top
        return out
