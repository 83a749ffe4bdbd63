#!/usr/bin/env python
"""Measured scaling curve for the INDEXER CORE (round-5: the round-4 curve
covered only the LLM operators; this one covers the reference-parity half).

Two measurement families, both written into SCALE_CURVE.json under
"core_results" / "ingest_results":

1. Relational core queries (tx_enrich_money, asof_price,
   asof_join_price_at_click, latest_per_address, tx_list,
   active_address_counts) timed at 1x/3x/10x over distribution-matched
   synthetic `events` / `lineitem` / `part` tables (same generator
   philosophy as scale_curve.py: independent draws, matched marginals —
   users and parts scale WITH the corpus so per-key density stays
   constant, which is what holds on a growing chain).

2. Ingest-cycle scaling on the FakeChain (the bench_ingest methodology),
   along the axes the 3 s tick actually cares about:
   - mor_cycle_vs_history: 10-block MoR cycle after 2000/6000/20000-block
     warm catch-up. The MoR claim is O(batch) + O(delta count), NOT
     O(table) — the exponent should be ~0.
   - cow_cycle_vs_history: the Indexer's sink_mode="cow" folds every
     sink after every write (compact_every=1), an O(table) rewrite per
     cycle — exponent ~1 expected and documented (the honest contrast).
   - mor_cycle_vs_batch: txs_per_block 20/60/200 at fixed history —
     exponent <= ~1 (cycle work is the batch itself + fixed overhead).
   - mor_read_vs_deltas: resolved-read latency with 8/24/80 uncompacted
     deltas (compaction disabled), plus the same read post-compact —
     measures the read-path cost compaction exists to bound.

Usage: python scripts/scale_curve_core.py [--out /tmp/moc_scale_core]
       [--runs 3] [--skip-ingest] [--skip-queries]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

SF01 = "/root/testdata/sf0.1"

CORE_QUERIES = [
    "tx_list", "latest_per_address", "asof_price", "active_address_counts",
    "tx_enrich_money", "asof_join_price_at_click",
]


from _curve_util import fit_exponent as _fit_exponent  # noqa: E402


# --- corpus synthesis -------------------------------------------------------

def _stats():
    import duckdb

    con = duckdb.connect()
    ev = con.sql(
        f"SELECT ts, event_type, value, props FROM '{SF01}/events.parquet'"
    ).df()
    li = con.sql(f"SELECT * FROM '{SF01}/lineitem.parquet'").df()
    pt = con.sql(f"SELECT * FROM '{SF01}/part.parquet'").df()
    con.close()
    return ev, li, pt


def gen_tables(out_dir: str, s: int, seed: int, stats) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev, li, pt = stats
    rng = np.random.default_rng(seed)

    # events: n_users scales with the corpus (constant rows/user — the
    # growing-chain shape); ts uniform over the source's 30-day window
    # (busier chain), sorted like the source stream; value/props/event_type
    # resampled from the source marginals
    n_ev = len(ev) * s
    # pandas .value is NANOSECONDS since epoch; the source files carry
    # timestamp[us], so draw in ns and floor-divide down to us
    ts = np.sort(rng.integers(
        ev["ts"].min().value, ev["ts"].max().value, size=n_ev
    )) // 1000
    idx = rng.integers(0, len(ev), size=n_ev)
    tbl = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(
            rng.integers(0, 1500 * s, size=n_ev), pa.int64()
        ),
        "event_type": pa.array(ev["event_type"].to_numpy()[idx]),
        "value": pa.array(ev["value"].to_numpy()[idx], pa.float64()),
        "props": pa.array(ev["props"].to_numpy()[idx]),
    })
    pq.write_table(tbl, os.path.join(out_dir, "events.parquet"),
                   row_group_size=max(1024, n_ev // 32))

    # part: keys 0..20000*s-1, non-key columns resampled
    n_pt = len(pt) * s
    pidx = rng.integers(0, len(pt), size=n_pt)
    cols = {"p_partkey": pa.array(range(n_pt), pa.int64())}
    for c in pt.columns:
        if c != "p_partkey":
            cols[c] = pa.array(pt[c].to_numpy()[pidx])
    pq.write_table(pa.table(cols), os.path.join(out_dir, "part.parquet"),
                   row_group_size=max(1024, n_pt // 32))

    # lineitem: l_partkey uniform over the SCALED part range (join fan-in
    # per part stays constant), other columns resampled
    n_li = len(li) * s
    lidx = rng.integers(0, len(li), size=n_li)
    lcols = {}
    for c in li.columns:
        if c == "l_partkey":
            lcols[c] = pa.array(rng.integers(0, n_pt, size=n_li), pa.int64())
        elif c == "l_orderkey":
            lcols[c] = pa.array((np.arange(n_li) // 4).astype(np.int64))
        elif c == "l_linenumber":
            lcols[c] = pa.array(
                (np.arange(n_li) % 4 + 1).astype(np.int32), pa.int32()
            )
        else:
            lcols[c] = pa.array(li[c].to_numpy()[lidx])
    pq.write_table(pa.table(lcols), os.path.join(out_dir, "lineitem.parquet"),
                   row_group_size=max(1024, n_li // 32))


def build_corpora(base: str, scales: list[int], seed: int = 11) -> dict[int, str]:
    stats = None
    dirs = {}
    for s in scales:
        d = os.path.join(base, f"x{s}")
        marker = os.path.join(d, "_DONE")
        dirs[s] = d
        if os.path.exists(marker):
            continue
        if stats is None:
            stats = _stats()
        os.makedirs(d, exist_ok=True)
        gen_tables(d, s, seed * 1000 + s, stats)
        open(marker, "w").write("ok")
    return dirs


def time_query(spark, build, sf_dir: str, runs: int) -> float:
    df = build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    df.write.format("noop").mode("overwrite").save()
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    spark.catalog.clearCache()
    ts.sort()
    return round(ts[len(ts) // 2], 3)


def run_queries(spark, dirs, scales, runs, names=None) -> dict:
    from moc_indexer_spark.plans.registry import registry

    by = {s.name: s for s in registry()}
    results: dict[str, dict] = {}
    for name in (names or CORE_QUERIES):
        spec = by[name]
        row: dict = {"t": {}}
        for s in scales:
            try:
                row["t"][str(s)] = time_query(spark, spec.build, dirs[s], runs)
            except Exception as e:  # noqa: BLE001
                row["err"] = f"x{s}: " + str(e).splitlines()[0][:150]
                break
        if "err" not in row:
            row["exponent"] = _fit_exponent(
                scales, [row["t"][str(s)] for s in scales]
            )
            # FIXED keys regardless of the --scales list: merged JSON
            # docs otherwise accumulate ratio_10x beside ratio_30x rows
            # across targeted re-runs (ratio_scale records the scale)
            row["ratio_last"] = round(
                row["t"][str(scales[-1])] / max(row["t"][str(scales[0])], 1e-9), 2
            )
            row["ratio_scale"] = scales[-1]
        results[name] = row
        print(json.dumps({name: row}), flush=True)
    return results


# --- ingest-cycle scaling ---------------------------------------------------

def _cycle_median(ix, start_tip: int, n_cycles: int = 5,
                  step: int = 10) -> float:
    # two untimed warm cycles: the first cycles after a catch-up pay
    # python-worker forks + codegen compilation that the steady-state
    # 3 s tick never sees (the first measured history point of the first
    # run read 4.0 s from exactly this)
    tip = start_tip
    for _ in range(2):
        tip += step
        ix.run_incremental(tip=tip)
    lat = []
    for _ in range(n_cycles):
        tip += step
        t0 = time.perf_counter()
        ix.run_incremental(tip=tip)
        lat.append(time.perf_counter() - t0)
    return round(statistics.median(lat), 3)


def run_ingest(spark) -> dict:
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.session import ship_package
    from moc_indexer_spark.sources.chain import FakeChain
    from moc_indexer_spark.streaming.sink import ParquetUpsertTable

    ship_package(spark)
    out: dict[str, dict] = {}

    # 1) cycle latency vs history size (lazy fold: flat; fold every
    # write, sink_mode="cow": linear)
    histories = [2000, 6000, 20000]
    for mode in ("mor", "cow"):
        row: dict = {"t": {}}
        for h in histories:
            d = tempfile.mkdtemp(prefix=f"scale_ingest_{mode}_{h}_")
            ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, 20),
                         CONTRACTS, sink_mode=mode)
            t0 = time.perf_counter()
            ix.run_incremental(tip=h)
            warm = time.perf_counter() - t0
            row["t"][str(h)] = _cycle_median(ix, h)
            row.setdefault("catchup_blocks_per_sec", {})[str(h)] = round(
                h / warm, 1
            )
        row["exponent"] = _fit_exponent(
            [h / histories[0] for h in histories],
            [row["t"][str(h)] for h in histories],
        )
        out[f"{mode}_cycle_vs_history"] = row
        print(json.dumps({f"{mode}_cycle_vs_history": row}), flush=True)

    # 2) cycle latency vs batch size (txs_per_block) at fixed history
    row = {"t": {}}
    batches = [20, 60, 200]
    for tpb in batches:
        d = tempfile.mkdtemp(prefix=f"scale_ingest_batch_{tpb}_")
        ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, tpb),
                     CONTRACTS, sink_mode="mor")
        ix.run_incremental(tip=2000)
        row["t"][str(tpb)] = _cycle_median(ix, 2000)
    row["exponent"] = _fit_exponent(
        [b / batches[0] for b in batches],
        [row["t"][str(b)] for b in batches],
    )
    out["mor_cycle_vs_batch"] = row
    print(json.dumps({"mor_cycle_vs_batch": row}), flush=True)

    # 2a) event-pipeline decode/enrich vs batch size (the catch-up shape:
    # a big scan range decoded in one cycle) — isolates the demux/from_json
    # /wei-decimal stage from sink writes; expect ~linear work, sub-1
    # exponent from parallel slack
    from moc_indexer_spark.operators.events import (
        TICK_OUTPUT_EVENTS,
        run_event_pipeline,
    )
    from moc_indexer_spark.sources.chain import ScanRange, scan_blocks

    row = {"t": {}}
    blocks_ax = [1000, 3000, 10000]
    consumed = tuple(TICK_OUTPUT_EVENTS)  # every output a tick can route
    for nb in blocks_ax:
        raw = scan_blocks(
            spark, FakeChain(CONTRACTS, USERS, 20),
            ScanRange(last_indexed=-1, tip=nb, blocks_recession=0),
            set(CONTRACTS),
            # recession=0 scans to the tip: the default min_confirmations=1
            # trips chain.py's drop-the-youngest-block guard
            min_confirmations=0,
        ).cache()
        raw.count()
        outs = run_event_pipeline(raw, moc_contract=CONTRACTS[0],
                                  only=consumed)
        def _drain():
            for k in consumed:
                outs[k].write.format("noop").mode("overwrite").save()
        _drain()  # warm
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            _drain()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        row["t"][str(nb)] = round(ts[1], 3)
        raw.unpersist()
    row["exponent"] = _fit_exponent(
        [b / blocks_ax[0] for b in blocks_ax],
        [row["t"][str(b)] for b in blocks_ax],
    )
    out["event_pipeline_vs_batch"] = row
    print(json.dumps({"event_pipeline_vs_batch": row}), flush=True)

    # 2a') catch-up write-stage parallelization: one 20k-block recovery
    # cycle with the delta shard gate active vs forced single-file. The
    # gate (app.SHARD_BLOCKS) only fires on catch-up shapes, so the
    # 3 s-tick cycles above are unaffected by construction.
    import moc_indexer_spark.app as app_mod

    row = {}
    saved_sb = app_mod.SHARD_BLOCKS
    try:
        for label, sb in (("single_file", 10**9), ("sharded", saved_sb)):
            app_mod.SHARD_BLOCKS = sb
            ts, nf = [], None
            for _ in range(3):
                d = tempfile.mkdtemp(prefix=f"scale_catchup_{label}_")
                ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, 20),
                             CONTRACTS, sink_mode="mor")
                ix.run_incremental(tip=100)  # advance cursor past cold start
                t0 = time.perf_counter()
                ix.run_incremental(tip=20100)  # the 20k-block catch-up
                ts.append(time.perf_counter() - t0)
                seq = os.path.join(d, "raw_transactions", "__seq=1")
                nf = sum(1 for f in os.listdir(seq)
                         if f.endswith(".parquet"))
            ts.sort()
            row[label] = {"t_sec": round(ts[1], 2), "delta_files": nf,
                          "blocks_per_sec": round(20000 / ts[1], 1)}
    finally:
        app_mod.SHARD_BLOCKS = saved_sb
    out["mor_catchup_sharded_vs_single"] = row
    print(json.dumps({"mor_catchup_sharded_vs_single": row}), flush=True)

    # 2b) upsert latency vs PRE-LOADED table size, fixed 2k batch — the
    # direct form of the MoR-vs-CoW contrast that the FakeChain histories
    # can't show (a 400k-row table rewrite still sits under the local
    # scheduling floor): the "cow" arm folds after every write
    # (compact_every=1) and so re-writes O(table) bytes per upsert
    # (expect exponent -> 1 as the table outgrows the floor), the "mor"
    # arm never folds and appends O(batch) (expect ~0)
    from pyspark.sql import functions as F

    sizes_ax = [1_000_000, 3_000_000, 10_000_000]
    for mode in ("mor", "cow"):
        row = {"t": {}}
        for n in sizes_ax:
            d = tempfile.mkdtemp(prefix=f"scale_upsert_{mode}_{n}_")
            tbl = ParquetUpsertTable(
                spark, os.path.join(d, "t"), keys=["k"], version_col="v",
                compact_every=1 if mode == "cow" else 10**9,
            )
            tbl.upsert(spark.range(0, n).select(
                F.col("id").alias("k"), F.lit(0).alias("v"),
                F.rand(seed=1).alias("x"),
            ))
            # keys modulo n: every batch row hits an EXISTING key at every
            # table size, so the axis varies only the table — id*4999 alone
            # made the 2k batch ~90% inserts at n=1M but ~100% updates at
            # n=10M, conflating table-size cost with a changing mix
            batch = spark.range(0, 2_000).select(
                ((F.col("id") * 4999) % n).alias("k"), F.lit(1).alias("v"),
                F.rand(seed=2).alias("x"),
            )
            tbl.upsert(batch)  # warm (codegen + python workers)
            ts = []
            for i in range(3):
                b = batch.withColumn("v", F.lit(2 + i))
                t0 = time.perf_counter()
                tbl.upsert(b)
                ts.append(time.perf_counter() - t0)
            ts.sort()
            row["t"][str(n)] = round(ts[1], 3)
        row["exponent"] = _fit_exponent(
            [n / sizes_ax[0] for n in sizes_ax],
            [row["t"][str(n)] for n in sizes_ax],
        )
        out[f"{mode}_upsert_vs_table_size"] = row
        print(json.dumps({f"{mode}_upsert_vs_table_size": row}), flush=True)

    # 3) resolved-read latency vs uncompacted delta count (+ post-compact)

    deltas = [8, 24, 80]
    d = tempfile.mkdtemp(prefix="scale_read_deltas_")
    tbl = ParquetUpsertTable(
        spark, os.path.join(d, "t"), keys=["k"], version_col="v",
        compact_every=10**9,
    )
    base = spark.range(0, 200_000).select(
        F.col("id").alias("k"), F.lit(0).alias("v"),
        F.rand(seed=1).alias("x"),
    )
    tbl.upsert(base)
    row = {"t": {}}
    done = 1
    for target in deltas:
        while done < target:
            upd = spark.range(0, 2_000).select(
                (F.col("id") * 97 % 200_000).alias("k"),
                F.lit(done).alias("v"), F.rand(seed=done).alias("x"),
            )
            tbl.upsert(upd)
            done += 1
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            tbl.read().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        row["t"][str(target)] = round(ts[1], 3)
    t0 = time.perf_counter()
    tbl.compact()
    row["compact_sec"] = round(time.perf_counter() - t0, 3)
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        tbl.read().write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    row["t_post_compact"] = round(ts[1], 3)
    row["exponent"] = _fit_exponent(
        [n / deltas[0] for n in deltas], [row["t"][str(n)] for n in deltas]
    )
    out["mor_read_vs_deltas"] = row
    print(json.dumps({"mor_read_vs_deltas": row}), flush=True)
    return out


def run_policy_longrun(
    spark, history: int = 60_000, cycles: int = 40, step: int = 10
) -> dict:
    """mor_cycle_policy_longrun: the Indexer's auto-compaction policy under
    a long-running daemon. Two arms over an identical 60k-block catch-up +
    `cycles` tick-sized (10-block) cycles: policy ON (the Indexer default
    compact_every=16) vs OFF (disabled). Per arm: median/p90/max cycle,
    the first-10 vs last-10 medians (the accretion slope a months-long
    daemon rides), and how many cycles absorbed a compaction fold. The
    ON arm's max cycle is the amortized maintenance spike (all six sinks
    cross the threshold on the same cycle — they append one delta per
    cycle each); every other cycle reads the post-compact single-dir
    fast path."""
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.sources.chain import FakeChain

    out = {}
    for label, ce in (("policy_on", 16), ("policy_off", 10**9)):
        d = tempfile.mkdtemp(prefix=f"scale_policy_{label}_")
        ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, 20), CONTRACTS,
                     sink_mode="mor", compact_every=ce)
        t0 = time.perf_counter()
        ix.run_incremental(tip=history)
        catchup = time.perf_counter() - t0
        tip = history
        for _ in range(2):  # untimed warm cycles (see _cycle_median)
            tip += step
            ix.run_incremental(tip=tip)
        lat, compactions = [], 0
        for _ in range(cycles):
            before = len(ix.tables["raw_transactions"].history())
            tip += step
            t0 = time.perf_counter()
            ix.run_incremental(tip=tip)
            lat.append(time.perf_counter() - t0)
            after = len(ix.tables["raw_transactions"].history())
            if after < before + 1:  # the fold reset the delta-dir count
                compactions += 1
        s = sorted(lat)
        out[label] = {
            "cycles": cycles,
            "catchup_sec": round(catchup, 1),
            "median": round(s[len(s) // 2], 3),
            "p90": round(s[int(len(s) * 0.9)], 3),
            "max": round(max(lat), 3),
            "first10_median": round(statistics.median(lat[:10]), 3),
            "last10_median": round(statistics.median(lat[-10:]), 3),
            "compaction_cycles": compactions,
        }
        print(json.dumps({label: out[label]}), flush=True)
    return {"mor_cycle_policy_longrun": out}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/moc_scale_core")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--skip-ingest", action="store_true")
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument("--policy-longrun", action="store_true",
                    help="run the auto-compaction long-run axis")
    ap.add_argument("--queries", default="",
                    help="comma list; targeted re-measure merges per-query")
    ap.add_argument("--scales", default="1,3,10",
                    help="comma list of multipliers, e.g. 1,3,10,30")
    args = ap.parse_args()

    from moc_indexer_spark.session import get_spark
    from moc_indexer_spark.tables import enable_layout_mirror

    scales = [int(s) for s in args.scales.split(",")]
    dirs = build_corpora(args.out, [s for s in scales if s != 1])
    dirs[1] = SF01

    spark = get_spark(app_name="scale-curve-core")
    spark.sparkContext.setLogLevel("ERROR")
    enable_layout_mirror()

    core_results = {} if args.skip_queries else run_queries(
        spark, dirs, scales, args.runs,
        names=args.queries.split(",") if args.queries else None,
    )
    ingest_results = {} if args.skip_ingest else run_ingest(spark)
    if args.policy_longrun:
        ingest_results.update(run_policy_longrun(spark))

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CURVE.json",
    )
    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            doc = json.load(fh)
    if core_results:
        # the global core_scales field describes a FULL default-set run;
        # a targeted --queries re-measure must not relabel rows it didn't
        # touch (each row's t-dict keys carry its own scales anyway)
        if not args.queries:
            doc["core_scales"] = scales
        # merge per-query: a targeted --queries/--scales re-measure must
        # not drop the other recorded core rows
        merged = doc.get("core_results", {})
        merged.update(core_results)
        doc["core_results"] = merged
    if ingest_results:
        # merge per-axis: a targeted run (e.g. --skip-queries
        # --policy-longrun) must not drop the other recorded axes
        merged_i = doc.get("ingest_results", {})
        merged_i.update(ingest_results)
        doc["ingest_results"] = merged_i
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(json.dumps({"written": out_path}))
    spark.stop()


if __name__ == "__main__":
    main()
