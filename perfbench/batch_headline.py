"""batch_headline: a fixed set of headline registry queries over seeded
synthetic tables, with the layout mirror on.

The ten catalog tables are generated from the seed (datagen.py). Set-up
(SETUPS times, the last one kept) starts a fresh Spark session and builds
the layout mirror. The cold phase is the first pass over the queries
(code generation, Python worker start), collecting each result; those
results are the ones the gate compares with the DuckDB oracles. One
untimed warm-up pass follows. The measured window runs a fixed number of
passes (window_rounds); in each pass every query is built from the
registry and executed into the noop sink, with the cache cleared between
queries, as bench.py does.
"""
from __future__ import annotations

import glob
import os
import shutil
import time

from harness import (ROOT, Ops, finite, mean_of_medians, median,
                     window_rounds)
from spans import JobAttribution

import datagen

WHY = ("the analytics and LLM-operator surface: all work is in operators/* "
       "and plans/*, none in the sink or the chain source, so it is the "
       "bypass side of every indexer change")
SF = 0.01
TINY_SF = 0.002
SETUPS = 3
# nominal seconds of one pass on 4 cores: --seconds 15 runs 5 passes
PASS_S = 3.1
# Five of the 46 bench=True registry entries, one per operator family,
# all oracle-gated: the full headline set takes ~30 s a pass on four
# cores, more than one run can hold. The O(n^2) near-dup oracles
# (minhash_dup_pairs, ngram_dup_pairs_guarded) are left out so the gate
# stays a few seconds.
QUERIES = (
    "tx_list",                  # serving: filter + top-k page
    "hourly_window_agg",        # event-time window aggregate
    "local_supplier_volume",    # 6-way TPC-H join
    "line_dedup_docs",          # line-level dedup
    "cosine_topk",              # embedding top-k retrieval
)


def _remove_mirror(data_dir: str) -> None:
    """Delete the layout mirror tables.py built for data_dir under the
    checkout's spark-warehouse/ (named after the data dir, which is unique
    to this run)."""
    mirror = os.path.join(ROOT, "spark-warehouse", "mirror")
    for d in glob.glob(os.path.join(mirror, os.path.basename(data_dir) + "-*")):
        shutil.rmtree(d, ignore_errors=True)
    for parent in ("spark-warehouse/mirror", "spark-warehouse"):
        try:
            os.rmdir(os.path.join(ROOT, parent))  # only if now empty
        except OSError:
            pass


def _query(spark, spec, data_dir, tracer):
    t0 = time.perf_counter()
    try:
        df = spec.build(spark, data_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
    finally:
        # operators persist() their own index relations; drop them so one
        # query's working set does not leak into the next (as bench.py)
        spark.catalog.clearCache()
    if tracer is not None:
        tracer.span("plans.build", t0, t1, spec.name)
        tracer.span("query.exec", t1, time.perf_counter(), spec.name)


class _Collected:
    """A result already collected, in the shape testing.compare reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _collect(spark, spec, data_dir):
    try:
        return spec.build(spark, data_dir).toPandas()
    finally:
        spark.catalog.clearCache()


def run(ctx) -> dict:
    from moc_indexer_spark.plans.registry import registry
    from moc_indexer_spark.tables import TABLE_NAMES, enable_layout_mirror, table
    from moc_indexer_spark.testing import compare, run_oracle

    tracer = ctx.tracer
    data_dir = os.path.join(ctx.workdir, f"pb{ctx.seed}-{os.getpid()}")
    rows = datagen.generate(data_dir, TINY_SF if ctx.tiny else SF, ctx.seed)
    by_name = {s.name: s for s in registry()}
    specs = [by_name[n] for n in QUERIES]
    enable_layout_mirror()

    def build_mirror(spark, _):
        _remove_mirror(data_dir)
        for name in TABLE_NAMES:
            table(spark, data_dir, name).count()  # builds the mirror

    try:
        ctx.setup(build_mirror, SETUPS)
        spark = ctx.spark

        ops = Ops()

        def one_pass(lat):
            t0 = time.perf_counter()
            for spec in specs:
                _, dt_, ok = ops.run("query", _query, spark, spec, data_dir,
                                     tracer)
                lat.append(dt_ if ok else float("inf"))
            return time.perf_counter() - t0
        # cold phase: the first pass delivers every query's result to the
        # client (toPandas); the gate compares those results with the
        # DuckDB oracles outside the timed span (the queries are
        # stateless, so any pass gives the same rows)
        checks, cold_query = {}, {}
        for spec in specs:
            pdf, dt_, ok = ops.run("query", _collect, spark, spec, data_dir)
            cold_query[spec.name] = dt_ if ok else float("inf")
            try:
                checks[f"oracle.{spec.name}"] = ok and compare(
                    _Collected(pdf), run_oracle(spec.oracle, data_dir))[0]
            except Exception as e:  # noqa: BLE001  (the oracle side failed)
                checks[f"oracle.{spec.name}"] = False
                ops.errors.append(f"oracle {spec.name}: {e}"[:200])
        cold_s = sum(cold_query.values())
        # untimed warm-up pass: the noop-sink path's first executions stay
        # out of the window
        t_warm = time.perf_counter()
        one_pass([])
        jobs = JobAttribution(spark) if tracer is not None else None
        passes, q_lat, spark_ops = [], [], []
        per_query: dict[str, list[float]] = {s.name: [] for s in specs}
        t_win = time.perf_counter()
        for _ in range(window_rounds(ctx.seconds, PASS_S)):
            n_failed, lat = ops.failed, []
            wall = one_pass(lat)
            passes.append(wall if ops.failed == n_failed else float("inf"))
            for spec, x in zip(specs, lat):
                per_query[spec.name].append(x)
            q_lat += lat
            if jobs is not None:
                spark_ops.append(jobs.take())
        t_end = time.perf_counter()
    finally:
        _remove_mirror(data_dir)

    busy = sum(p for p in passes if p != float("inf"))
    good = sum(1 for x in q_lat if x != float("inf"))
    e2e = {
        "cold_s": finite(cold_s),
        # bench.py's total: each query's median over the passes, summed
        "op_p50_s": finite(sum(median(v) for v in per_query.values())),
        "items_per_s": good / busy if busy else 0.0,
        "read_p50_s": finite(mean_of_medians(per_query.values())),
    }
    named = {"batch_total_s": e2e["op_p50_s"], "pass_s": passes,
             "query_p50_s": {n: median(v) for n, v in per_query.items()},
             "queries": len(specs), "sf_rows": rows,
             "cold_query_s": cold_query,
             "phases_s": {"cold": cold_s, "warm_up": t_win - t_warm,
                          "window": t_end - t_win}}
    layers = None
    if tracer is not None:
        layers = {"trace.op_p50_s": e2e["op_p50_s"]}
        builds = [s for s in tracer.spans
                  if s[0] == "plans.build" and t_win <= s[2] <= t_end]
        layers["plans.build_s"] = sum(s[3] - s[2] for s in builds) / len(passes)
        for name in QUERIES:
            layers[f"query.{name}.exec_s"] = median([
                s[3] - s[2] for s in tracer.spans
                if s[0] == "query.exec" and s[1] == name
                and t_win <= s[2] <= t_end])
        for k in ("jobs", "stages", "tasks", "input_bytes",
                  "shuffle_write_bytes"):
            layers[f"spark.{k}_per_pass"] = (
                sum(r[k] for r in spark_ops) / len(spark_ops))
    return {"ops": ops, "e2e": e2e, "layers": layers, "named": named,
            "checks": checks, "why": WHY}
