"""indexer_daemon: the MoR Indexer over FakeChain, with serving reads.

Set-up (SETUPS times, the last one kept): a fresh Spark session and an
Indexer whose checkpoint cursor is restored. Cold phase: the daemon
indexes a BACKLOG-block gap in one catch-up cycle (big enough that
`_delta_shards` > 1). One untimed tick and rotation of the serving reads
follow (warm-up). Live phase (the measured window): consecutive
TICK_BLOCKS-block `run_incremental` ticks. The first tick of the window
and every REFRESH_EVERY-th after it are followed by a refresh of the
balances of the accounts its blocks touched (the versioned user_state
upsert), which counts neither in tick latency nor in the live
throughput. After each tick the five serving reads of the reference API
run once each, in a fixed order, on the sink tables just written.

The seed shifts the chain's block offset and picks the read addresses.
"""
from __future__ import annotations

import datetime as dt
import os
import time
from decimal import Decimal

import numpy as np

from harness import Ops, finite, mean_of_medians, median, window_rounds
from spans import (JobAttribution, counting_fetcher, covered, dir_bytes,
                   install_indexer)

WHY = ("the product: MoR ingest ticks and serving reads hit the same sink "
       "tables, so write-side and read-side costs show together")
TXS_PER_BLOCK = 20
BACKLOG = 4000
TICK_BLOCKS = 10
REFRESH_EVERY = 5
# nominal seconds of one window round (tick, read rotation and, on every
# REFRESH_EVERY-th, the refresh) on 4 cores: --seconds 15 runs 3 rounds
ROUND_S = 4.9
SETUPS = 3
PAGE = 20
READS = ("tx_list", "tx_last", "pegout", "price_var", "balance")
TX_COLS = ["transactionHash", "address", "event", "createdAt", "amount"]
TABLES = ("raw_transactions", "transactions", "transfers", "fastbtc",
          "notifications", "user_state")


def _tx_order():
    from pyspark.sql import functions as F

    return [F.desc("createdAt"), F.desc("transactionHash")]


# -- serving reads: (build, collect) per endpoint ------------------------

def _build(op: str, ix, addr: str):
    from pyspark.sql import functions as F

    from moc_indexer_spark.operators import relational as R
    from moc_indexer_spark.operators import serving as S

    if op == "balance":
        return ix.tables["user_state"].read().filter(F.col("address") == addr)
    if op == "pegout":
        return S.api_pegout_list(ix.tables["fastbtc"].read(), addr)
    tx = ix.tables["transactions"].read()
    if op == "price_var":
        return S.api_price_variation(tx.select(
            F.col("transactionHash").alias("tx_hash"),
            F.col("createdAt").alias("created_at"),
            F.col("reservePrice").alias("amount"),
        ))
    mine = tx.filter(F.col("address") == addr).select(*TX_COLS)
    if op == "tx_last":
        return R.top_1_latest(mine, _tx_order())
    return R.page_top_k(mine, _tx_order(), 0, PAGE), mine  # tx_list


def _collect(op: str, df):
    if op == "tx_list":
        page, mine = df
        return sorted(page.collect(), key=lambda r: r["rn"]), mine.count()
    return df.collect()


def _read(op, ix, addr, tracer, dirs):
    if tracer is None:
        return _collect(op, _build(op, ix, addr))
    table = {"balance": "user_state", "pegout": "fastbtc"}.get(
        op, "transactions")
    dirs.append(len(ix.tables[table].history()))
    t0 = time.perf_counter()
    df = _build(op, ix, addr)
    t1 = time.perf_counter()
    out = _collect(op, df)
    tracer.span(f"serving.{op}.build", t0, t1)
    tracer.span(f"serving.{op}.collect", t1, time.perf_counter())
    return out


def _watched(chain, contracts, lo: int, hi: int) -> list[dict]:
    """Pure-Python replay of the scan's address filter over blocks [lo, hi]."""
    return [tx for bn in range(lo, hi + 1) for tx in chain(bn)
            if tx["to"].lower() in contracts
            or tx["from"].lower() in contracts]


# -- correctness gate ----------------------------------------------------

def _canon(v):
    if isinstance(v, dt.datetime):
        return round(v.timestamp() * 1_000_000)  # naive = local, like Spark
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return repr(v)
    return v


def _rows(rows) -> list[tuple]:
    return [tuple(_canon(v) for v in r) for r in rows]


def _duck_resolved(t) -> str:
    """Latest row per key over base + deltas, the sink's read rule:
    version column first (nulls last), then the delta sequence."""
    order = (f'"{t.version_col}" DESC NULLS LAST, ' if t.version_col
             else "") + "__seq DESC"
    keys = ", ".join(f'"{k}"' for k in t.keys)
    return (
        "SELECT * EXCLUDE (__rn, __seq, __deleted) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order})"
        " AS __rn FROM read_parquet("
        f"'{t.path}/*/*.parquet', hive_partitioning = true, "
        "union_by_name = true)) WHERE __rn = 1 AND NOT coalesce(__deleted, false)"
    )


def _resolved_stats(ix) -> dict[str, tuple[int, int]]:
    """Per sink table: (resolved rows, largest rows-per-key), one job each,
    submitted concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    def stats(t) -> tuple[int, int]:
        df = t.read()
        if df is None:
            return 0, 0
        r = df.groupBy(*t.keys).count().agg(
            F.sum("count"), F.max("count")).first()
        return r[0] or 0, r[1] or 0

    with ThreadPoolExecutor(max_workers=len(ix.tables)) as pool:
        return dict(zip(ix.tables, pool.map(stats, ix.tables.values())))


def _gate(ix, chain, contracts, first_block, last_tip, last) -> dict:
    """`last` maps each read op to (address, result) from the window's
    final rotation; those results are checked against DuckDB first, on the
    state they were read from."""
    import duckdb

    checks = {}
    con = duckdb.connect()
    try:
        tx_sql = _duck_resolved(ix.tables["transactions"])
        cols = ", ".join(f'"{c}"' for c in TX_COLS)
        order = '"createdAt" DESC, "transactionHash" DESC'
        addr, (page, total) = last["tx_list"]
        want = con.execute(
            f"SELECT {cols} FROM ({tx_sql}) WHERE address = ? "
            f"ORDER BY {order} LIMIT {PAGE}", [addr]).fetchall()
        want_n = con.execute(
            f"SELECT count(*) FROM ({tx_sql}) WHERE address = ?", [addr]
        ).fetchone()[0]
        checks["tx_list_equals_duckdb"] = (
            _rows([[r[c] for c in TX_COLS] for r in page]) == _rows(want)
            and total == want_n
        )
        addr, rows = last["tx_last"]
        want = con.execute(
            f"SELECT {cols} FROM ({tx_sql}) WHERE address = ? "
            f"ORDER BY {order} LIMIT 1", [addr]).fetchall()
        checks["tx_last_equals_duckdb"] = (
            _rows([[r[c] for c in TX_COLS] for r in rows]) == _rows(want)
        )
        fb = ix.tables["fastbtc"]
        fcols = fb.read().columns
        fsel = ", ".join(f'"{c}"' for c in fcols)
        addr, rows = last["pegout"]
        want = con.execute(
            f"SELECT {fsel} FROM ({_duck_resolved(fb)}) "
            "WHERE lower(rskAddress) = lower(?) "
            'ORDER BY "updated" DESC, "transferId" DESC', [addr]).fetchall()
        checks["pegout_equals_duckdb"] = (
            _rows([[r[c] for c in fcols] for r in rows]) == _rows(want))
    finally:
        con.close()

    stats = _resolved_stats(ix)
    checks.update({f"unique_keys.{n}": mult <= 1
                   for n, (_, mult) in stats.items()})
    expected = len(_watched(chain, contracts, first_block, ix.last_indexed))
    checks["raw_rows_equal_replay"] = (
        stats["raw_transactions"][0] == expected)
    ix.last_indexed -= TICK_BLOCKS
    ix.run_incremental(tip=last_tip)
    checks["replay_idempotent"] = _resolved_stats(ix) == stats
    return checks


# -- workload ------------------------------------------------------------

def run(ctx) -> dict:
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.sources.chain import FakeChain

    tracer = ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    backlog = 400 if ctx.tiny else BACKLOG
    first_block = 10_000 + (ctx.seed % 1000) * 100_000
    contracts = {a.lower() for a in CONTRACTS}
    chain = FakeChain(CONTRACTS, USERS, TXS_PER_BLOCK)
    if tracer is not None:
        install_indexer(tracer)

    def daemon_start(spark, i):
        fetcher, accs = chain, None
        if tracer is not None:
            fetcher, *accs = counting_fetcher(spark, chain)
        ix = Indexer(spark, os.path.join(ctx.workdir, f"sink{i}"), fetcher,
                     CONTRACTS, sink_mode="mor")
        ix.last_indexed = first_block - 1  # restored checkpoint cursor
        return ix, accs

    ix, accs = ctx.setup(daemon_start, SETUPS)
    spark = ctx.spark
    recession = ix.config.blocks_recession

    ops = Ops()
    tip = first_block + backlog - 1 + recession
    _, cold_s, ok = ops.run("catchup", ix.run_incremental, tip)
    if not ok:
        cold_s = float("inf")
    ops.run("refresh", ix.run_balance_refresh,
            spark.createDataFrame([(u,) for u in USERS], "account string"),
            tip)

    def tick(refresh: bool, jobs=None, spark_ops=None):
        """One live tick, plus the balance refresh when due. Returns (t0,
        t1, tick seconds, ok); [t0, t1] covers the tick and the refresh."""
        nonlocal tip
        tip += TICK_BLOCKS
        t0 = time.perf_counter()
        _, tick_s, ok = ops.run("tick", ix.run_incremental, tip)
        if ok and refresh:
            accounts = sorted({tx["from"].lower() for tx in _watched(
                chain, contracts, tip - recession - TICK_BLOCKS + 1,
                tip - recession)})
            _, _, ok = ops.run(
                "refresh", ix.run_balance_refresh,
                spark.createDataFrame([(a,) for a in accounts],
                                      "account string"),
                tip)
        t1 = time.perf_counter()
        if jobs is not None:
            spark_ops["tick"].append(jobs.take())
        return t0, t1, tick_s, ok

    def rotation(dirs=None, jobs=None, spark_ops=None):
        """The five serving reads, once each. Returns (latencies, {op:
        (address, result)})."""
        reads, results = [], {}
        for op in READS:
            addr = USERS[int(rng.integers(len(USERS)))]
            out, dt_, r_ok = ops.run("read", _read, op, ix, addr, tracer,
                                     dirs)
            reads.append(dt_ if r_ok else float("inf"))
            results[op] = (addr, out)
            if jobs is not None:
                spark_ops["read"].append(jobs.take())
        return reads, results

    # untimed warm-up: the first live-sized tick (one delta shard, unlike
    # the catch-up) and the read paths' first executions (code
    # generation, JIT) stay out of the window
    t_warm = time.perf_counter()
    if not ctx.tiny:
        tick(False)
        rotation()

    jobs = JobAttribution(spark) if tracer is not None else None
    spark_ops: dict[str, list[dict]] = {"tick": [], "read": []}
    if tracer is not None:
        acc_s, acc_n = accs
        fetch0, blocks0, dirs = acc_s.value, acc_n.value, []
    else:
        dirs = None
    ticks: list[tuple[float, float]] = []
    tick_lat, read_lat = [], []
    live_blocks, busy = 0, 0.0
    t_live = time.perf_counter()
    for _ in range(window_rounds(ctx.seconds, ROUND_S)):
        t0, t1, tick_s, ok = tick(len(ticks) % REFRESH_EVERY == 0, jobs,
                                  spark_ops)
        reads, last = rotation(dirs, jobs, spark_ops)
        ticks.append((t0, t1))
        busy += tick_s
        tick_lat.append(tick_s if ok else float("inf"))
        live_blocks += TICK_BLOCKS if ok else 0
        read_lat += reads
    last_tip = tip

    by_op = {op: read_lat[i::len(READS)] for i, op in enumerate(READS)}
    e2e = {
        "cold_s": finite(cold_s),
        "op_p50_s": finite(median(tick_lat)),
        "items_per_s": live_blocks / busy,
        "read_p50_s": finite(mean_of_medians(by_op.values())),
    }
    named = {
        "catchup_blocks_per_s": backlog / cold_s,
        "tick_p50_s": e2e["op_p50_s"],
        "live_blocks_per_s": e2e["items_per_s"],
        "read_p50_s": e2e["read_p50_s"],
        "live_ticks": len(ticks),
        "reads": len(read_lat),
        "tick_s": tick_lat,
        "read_s": by_op,
    }
    layers = None
    if tracer is not None:
        layers = _layers(tracer, ticks, tick_lat, spark_ops, dirs,
                         (acc_s.value - fetch0) / len(ticks),
                         (acc_n.value - blocks0) / len(ticks), ix)
    t_gate = time.perf_counter()
    checks = _gate(ix, chain, contracts, first_block, last_tip, last)
    named["phases_s"] = {"cold": cold_s, "warm_up": t_live - t_warm,
                         "window": t_gate - t_live,
                         "gate": time.perf_counter() - t_gate}
    return {"ops": ops, "e2e": e2e, "layers": layers, "named": named,
            "checks": checks, "why": WHY}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layers(tracer, ticks, tick_lat, spark_ops, dirs, fetch_s, blocks, ix):
    w0, w1 = ticks[0][0], ticks[-1][1]
    per_tick: dict[str, list[float]] = {}
    for a, b in ticks:
        kids = []
        for kind in ("chain.scan_build", "events.build", "sink.upsert",
                     "sink.compact"):
            spans = tracer.within(kind, a, b)
            kids += [(s[2], s[3]) for s in spans]
            if kind == "sink.upsert":
                per_tick.setdefault("upsert_wall", []).append(
                    covered([(s[2], s[3]) for s in spans]))
                for s in spans:
                    per_tick.setdefault(f"upsert.{s[1]}", []).append(
                        s[3] - s[2])
            else:
                per_tick.setdefault(kind, []).append(
                    sum(s[3] - s[2] for s in spans))
        for s in tracer.within("app.tick", a, b):
            per_tick.setdefault("tick_self", []).append(
                (s[3] - s[2]) - covered(kids))
    compacts = tracer.within("sink.compact", w0, w1)
    serving_builds = [(s[2], s[3]) for s in tracer.spans
                      if s[0].endswith(".build") and s[0].startswith("serving.")
                      and w0 <= s[2] <= w1]
    read_builds = [s[3] - s[2] for s in tracer.within("sink.read", w0, w1)
                   if any(a <= s[2] and s[3] <= b for a, b in serving_builds)]
    delta_b = sum(b for t, kind, _, b in tracer.bytes
                  if kind == "delta" and w0 <= t <= w1)
    fold_b = sum(b for t, kind, _, b in tracer.bytes
                 if kind == "fold" and w0 <= t <= w1)
    out = {
        "chain.blocks_fetched": blocks,
        "chain.fetch_s": fetch_s,
        "chain.scan_build_s": _mean(per_tick.get("chain.scan_build", [])),
        "events.build_s": _mean(per_tick.get("events.build", [])),
        "sink.upsert_s": _mean(per_tick.get("upsert_wall", [])),
        "sink.compact_s": _mean(s[3] - s[2] for s in compacts),
        "sink.fold_ticks": sum(
            1 for a, b in ticks if tracer.within("sink.compact", a, b)),
        "sink.read_build_s": _mean(read_builds),
        "sink.delta_dirs_at_read": _mean(dirs),
        "sink.bytes_written": delta_b + fold_b,
        "sink.write_amplification": (
            (delta_b + fold_b) / delta_b if delta_b else 0.0),
        "sink.table_bytes": sum(dir_bytes(t.path)
                                for t in ix.tables.values()),
        "app.tick_self_s": _mean(per_tick.get("tick_self", [])),
        "app.balance_refresh_s": _mean(
            s[3] - s[2] for s in tracer.within("app.balance_refresh", w0, w1)),
        "app.ticks_over_3s": sum(1 for x in tick_lat if x > 3.0),
        "trace.op_p50_s": finite(median(tick_lat)),
    }
    for t in TABLES:
        out[f"sink.upsert_s.{t}"] = _mean(per_tick.get(f"upsert.{t}", []))
    for op in READS:
        for part in ("build", "collect"):
            out[f"serving.{op}.{part}_s"] = _mean(
                s[3] - s[2] for s in tracer.within(
                    f"serving.{op}.{part}", w0, w1))
    for scope, recs in spark_ops.items():
        for k in ("jobs", "stages", "tasks", "input_bytes",
                  "shuffle_write_bytes"):
            out[f"spark.{k}_per_{scope}"] = _mean(r[k] for r in recs)
    return out
