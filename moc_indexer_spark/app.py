"""End-to-end indexer application (the app_run_moc_indexer.py analog).

Wires the whole engine together over a chain source:
  scan blocks (S1-S3) -> event decode/demux/enrich (J2, F3-F7)
  -> keyed upsert tables (S4, T6-T8) -> serving queries (§3.2)

A tick is routed by the events its scan carries, as the reference's demux
calls a handler only for the logs a block range holds (scan_events_txs.py:
134-157): `raw_transactions` upserts whenever the scan has rows, every
other sink only when an event feeds it (`events.TICK_OUTPUT_EVENTS`) or
its table does not exist yet — then from its outputs' schemas alone when
no event feeds it. An untouched sink costs no Spark job and gains no empty
delta dir.

Run demo:  python -m moc_indexer_spark.app [n_blocks]

Production shape: `run_incremental` is one scan cycle (the reference's
3-second task), or several for a catch-up longer than SCAN_CHUNK_BLOCKS;
a deployment loops it under the QueryManager (streaming/manager.py) or
converts the source into a readStream with the same transforms
(streaming/pipeline.py shows batch/stream parity).
"""

from __future__ import annotations

import sys
from dataclasses import replace

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.events import TICK_OUTPUT_EVENTS, run_event_pipeline
from .session import get_spark
from .sources.chain import BlockFetcher, FakeChain, ScanRange, scan_blocks
from .streaming.compaction import FoldScheduler
from .streaming.sink import ParquetUpsertTable

CONTRACTS = ["0x" + "ab" * 20, "0x" + "cd" * 20]
USERS = ["0x" + f"{i:040x}" for i in range(1, 21)]

# one delta shard per this many scanned blocks in a cycle (see the shard
# gate in run_incremental): at 20 txs/block a 2000-block shard is ~40k
# rows per write task — small enough to stream through one task quickly,
# large enough that tick-sized cycles (10-500 blocks) stay single-file
SHARD_BLOCKS = 2000

# a cycle scans at most this many blocks: its rows live in driver memory
# (scan_blocks), so a long catch-up runs as consecutive cycles of this
# size, each advancing the cursor, and the driver holds one chunk at a time
SCAN_CHUNK_BLOCKS = 8000

# tick output -> (sink table, inserts?); fastbtc_updates is the reference's
# update-only upsert (T6). A tick upserts its routed outputs in this order,
# so each table's first output is an insert (it creates the table), and the
# fastbtc insert runs before the update-only pass that must see the rows it
# created. The keys are the outputs of events.TICK_OUTPUT_EVENTS.
TICK_SINKS = {
    "transactions": ("transactions", True),
    "transfers": ("transfers", True),
    "fastbtc_new": ("fastbtc", True),
    "fastbtc_updates": ("fastbtc", False),
    "notifications": ("notifications", True),
}


def _delta_shards(n_blocks: int, parallelism: int) -> int:
    """Delta shard gate: how many files a cycle's delta append writes.

    Derived from the cycle's block count driver-side (no count job): a
    tick-sized cycle keeps the measured single-file append; a catch-up
    cycle (outage recovery) sheds the one serialization point in its
    write path — one shard per SHARD_BLOCKS blocks, capped at the
    session's parallelism. `run_incremental` and the tick-safety pin in
    tests/test_sink_mor.py both use THIS function, so the gate cannot
    drift from its test."""
    return min(parallelism, max(1, n_blocks // SHARD_BLOCKS))


def _scan_events(raw) -> tuple[bool, set[str]]:
    """The tick's routing action over the scan: whether it holds any row,
    and the distinct event names of its confirmed logs (the logs
    run_event_pipeline decodes). It is one job over the scan's local rows:
    both values are observed metrics of a no-op write, so no shuffle runs
    (a plain aggregate costs a shuffle and, under AQE, two more jobs)."""
    from pyspark.sql import Observation

    obs = Observation()
    names = F.when(F.col("status") == "confirmed", F.col("logs.event_name"))
    (
        raw.select(F.explode_outer(names).alias("event_name"))
        .observe(obs, F.count(F.lit(1)).alias("rows"),
                 F.collect_set("event_name").alias("events"))
        .write.format("noop").mode("overwrite").save()
    )
    return obs.get["rows"] > 0, set(obs.get["events"])


class Indexer:
    """Holds the sink tables + checkpoint cursor for incremental scans."""

    def __init__(self, spark: SparkSession, data_dir: str, fetcher: BlockFetcher,
                 contracts: list[str] | None = None, sink_mode: str = "mor",
                 config=None, compact_every: int = 16):
        """sink_mode picks the sinks' fold cadence (DEPLOY.md: one
        merge-on-read sink, fold cadence per table). "mor" (default)
        appends O(batch) deltas and folds off the hot path — the shape for
        the 3-second incremental tick (measured in PLANS.md); "cow" folds
        every sink after every write (compact_every=1), so each table
        stays one base dir and reads stay map-only.

        `compact_every` is the AUTO-COMPACTION policy: each
        sink folds its deltas back into a single base once that many
        delta dirs accrete, so a daemon running for months never rides
        the delta-accretion slope (SCALE_CURVE.json mor_cycle_vs_history
        measured 1.95 s at 60k blocks WITHOUT the policy vs 1.44-1.59 s
        fresh; mor_read_vs_deltas shows the resolve cost growing with
        dir count and the post-compact map-only fast path reclaiming
        it). The fold is amortized maintenance under a CYCLE BUDGET: the
        Indexer folds at most ONE crossed table per cycle (`self.folds`,
        a compaction.FoldScheduler — a tick never absorbs two rewrites),
        every other cycle reads the single-dir fast path, and the sinks
        keep a 4x-threshold backstop for use outside run_incremental.
        16 here vs the bare sink's 64: a tick appends to
        `raw_transactions` and to each sink its events feed (the routing
        rule in run_incremental), and the serving reads (§3.2) sit on the
        same tables.

        `config` (moc_indexer_spark.config.IndexerConfig) supplies the scan
        knobs (blocks_recession / blocks_look_behind, the forced
        from_block/to_block replay range, scan_raw_txs.py:74-98) and, when
        `contracts` is omitted, the network's contract address set."""
        from .config import IndexerConfig

        self.spark = spark
        self.fetcher = fetcher
        self.config = config or IndexerConfig()
        if contracts is None:
            contracts = [a for a in self.config.contract_addresses.values()]
        self.contracts = contracts
        self.last_indexed = -1
        if sink_mode not in ("cow", "mor"):
            raise ValueError(
                f"sink_mode must be 'cow' or 'mor', got {sink_mode!r}"
            )
        # The INDEXER owns the fold policy (self.folds below: at most one
        # sink fold per cycle — a hard invariant; per-table threshold
        # staggering still collides at lcm points). A table queued behind
        # the cursor overshoots the threshold by at most the table count;
        # the sinks' 4x backstop dwarfs that and keeps state bounded even
        # if someone drives these tables outside run_incremental.
        ce = 1 if sink_mode == "cow" else 4 * compact_every
        self.tables = {
            "raw_transactions": ParquetUpsertTable(
                spark, f"{data_dir}/raw_transactions",
                keys=["hash", "blockNumber"], compact_every=ce,
            ),
            "transactions": ParquetUpsertTable(
                spark, f"{data_dir}/transactions",
                keys=["transactionHash", "address", "event"],
                compact_every=ce,
            ),
            "transfers": ParquetUpsertTable(
                spark, f"{data_dir}/transfers",
                keys=["transactionHash", "address", "event"],
                compact_every=ce,
            ),
            "fastbtc": ParquetUpsertTable(
                spark, f"{data_dir}/fastbtc", keys=["transferId"],
                version_col="updated", compact_every=ce,
            ),
            "notifications": ParquetUpsertTable(
                spark, f"{data_dir}/notifications",
                keys=["transactionHash", "logIndex", "event"],
                compact_every=ce,
            ),
            "user_state": ParquetUpsertTable(
                spark, f"{data_dir}/user_state", keys=["address"],
                version_col="block_height", compact_every=ce,
            ),
        }
        # fold_fn looks `compact` up at call time, so a class-level
        # wrapper on ParquetUpsertTable.compact sees every policy fold
        self.folds = FoldScheduler(
            tuple(
                (name, lambda t=t: len(t.history()), lambda t=t: t.compact())
                for name, t in self.tables.items()
            ),
            compact_every,
        )

    def run_balance_refresh(self, queue_df, tip: int) -> int:
        """Task-7 analog (scan_moc_user.py:33-78 + moc_balances.py:110-171):
        drain the pending-refresh queue, coalesce duplicate accounts (T7),
        fetch point-in-time balances via batched per-partition calls (S7),
        versioned upsert into user_state (T8 monotonic guard)."""
        import hashlib as _h

        from .sources.chain import multicall_enrich

        pending = queue_df.select(
            F.lower(F.col("account")).alias("account")
        ).dropDuplicates(["account"])

        def balance_calls(rows):
            out = []
            for r in rows:  # one multicall round trip per batch
                seed = _h.sha256(f"{r['account']}:{tip}".encode()).digest()
                v = int.from_bytes(seed[:8], "big")
                out.append({
                    "address": r["account"],
                    "block_height": tip,
                    "moc_balance": str(v % 10**22),
                    "rbtc_balance": str((v >> 16) % 10**20),
                    "doc_balance": str((v >> 32) % 10**21),
                })
            return out

        bal = multicall_enrich(
            pending, balance_calls, batch_size=50,
            schema=("address string, block_height long, moc_balance string, "
                    "rbtc_balance string, doc_balance string"),
        ).persist()  # upsert + count: one multicall pass, not two (a second
        # uncached pass would re-issue every balance RPC — and against a
        # live chain fetch balances at a DIFFERENT moment than was written)
        try:
            self.tables["user_state"].upsert(bal)
            return bal.count()
        finally:
            bal.unpersist()

    def tick_chains(self, raw, events: set[str]) -> dict[str, list]:
        """The cycle's upserts over the scan `raw` whose confirmed
        logs carry `events`: {table: [(batch, insert), ...]} in TICK_SINKS
        order. `raw_transactions` takes every scanned row and each output
        one of `events` feeds its sink. A table that does not exist yet is
        created by its first (insert) output carrying the columns of all
        its outputs, as a cycle feeding them all would create it; an unfed
        output adds its columns under `limit(0)`, which Catalyst folds to
        an empty local relation, so no job scans the rows for it. An
        unfed update-only output is not upserted."""
        missing = {t for t, tbl in self.tables.items() if not tbl.exists()}
        fed = {
            out: bool(events.intersection(TICK_OUTPUT_EVENTS[out]))
            for out in TICK_SINKS
        }
        # build only the plans this cycle consumes — the full 12-output
        # build is ~2x the driver analysis per tick
        outs = run_event_pipeline(
            raw, moc_contract=self.contracts[0],
            only=tuple(out for out, (table, _) in TICK_SINKS.items()
                       if fed[out] or table in missing),
        )
        chains = {"raw_transactions": [(raw, True)]}
        for out, (table, insert) in TICK_SINKS.items():
            if table in missing and table not in chains:
                batch = outs[out] if fed[out] else outs[out].limit(0)
                for other, (t, _) in TICK_SINKS.items():
                    if t == table and other != out:
                        batch = batch.unionByName(
                            outs[other].limit(0), allowMissingColumns=True)
                chains[table] = [(batch, insert)]
            elif fed[out]:
                chains.setdefault(table, []).append((outs[out], insert))
        return chains

    def _run_cycle(self, scan: ScanRange) -> None:
        """One scan cycle: `scan`'s blocks -> the routed sinks.

        The scan (`scan_blocks`) fetches the window on the driver into a
        local relation, so a fetch fault raises before any write and the
        cursor does not advance; the cycle's rows live in driver memory
        and every action over them reads that snapshot, with no cache to
        fill or drop. Routing: one job over the scan (`_scan_events`)
        gives whether it holds any row and the event names of its
        confirmed logs. A scan without rows only advances the cursor.
        Otherwise `raw_transactions` upserts every scanned row, and each tick
        output the scan's events feed (`TICK_OUTPUT_EVENTS`) is built and
        upserted (`tick_chains`). A table that does not exist when the
        tick starts is created with the columns of all its outputs; the
        unfed ones give columns only (creation-only outputs), so the
        first non-quiet cycle creates every table without scanning for
        rows no event can give, and an unfed update-only pass appends no
        empty delta. A fed output may still be empty after its handler's
        filters; an output with rows is never skipped. Each half of the
        fastbtc pair routes on its own."""
        raw = scan_blocks(self.spark, self.fetcher, scan, set(self.contracts))
        has_rows, events = _scan_events(raw)
        if not has_rows:
            # the scan itself succeeded — advance the cursor even with
            # zero matching txs, or a quiet contract re-fetches an
            # ever-growing window (every block since the last matching
            # tx) on every tick until the 3 s cadence can't keep up
            self.last_indexed = scan.end
            # quiet cycles are the CHEAPEST place to pay maintenance
            self.folds.maybe_fold_one()
            return
        chains = self.tick_chains(raw, events)
        # the sinks are independent tables -> submit their merge jobs
        # concurrently (Spark's scheduler interleaves them; the
        # reference runs its tasks on a 5-worker pool the same way).
        # fastbtc's two ops stay ordered: update-only must see the rows
        # the insert pass created.
        from concurrent.futures import ThreadPoolExecutor

        n_blocks = scan.end - scan.start + 1
        shards = _delta_shards(
            n_blocks, self.spark.sparkContext.defaultParallelism
        )

        def _upserts(table, batches):
            for batch, insert in batches:
                self.tables[table].upsert(batch, insert=insert,
                                          shards=shards)

        with ThreadPoolExecutor(max_workers=len(chains)) as pool:
            futures = [pool.submit(_upserts, table, batches)
                       for table, batches in chains.items()]
            for f in futures:
                f.result()  # surface the first failure
        self.last_indexed = scan.end
        self.folds.maybe_fold_one()

    def run_incremental(self, tip: int, report_counts: bool = False) -> dict[str, int]:
        """Index checkpoint+1 .. tip-recession into the routed sinks.

        A tick is one cycle (`_run_cycle`). A window longer than
        SCAN_CHUNK_BLOCKS (a catch-up after an outage) runs as consecutive
        cycles of that many blocks; each advances the cursor, so a fault
        leaves it at the end of the last whole chunk. Confirmations count
        from `tip` in every chunk.

        report_counts runs a full count on every sink table after the last
        cycle — diagnostic only (6 extra jobs, ~2 s at demo scale); the
        production tick skips it."""
        cfg = self.config
        if cfg.from_block or cfg.to_block:
            # forced replay range ("for testing only", scan_raw_txs.py:94-98):
            # index exactly [from_block, to_block], ignoring the cursor.
            # One-sided forms work too: from_block alone replays up to the
            # LIVE tip (to_block=0 used to freeze the forced tip at the
            # recession margin — an empty scan forever); to_block alone
            # replays from GENESIS (look_behind=forced_tip defeats the
            # cold-start tip-minus-60 heuristic, which would silently skip
            # every block before to_block-60).
            forced_tip = (
                cfg.to_block + cfg.blocks_recession if cfg.to_block else tip
            )
            scan = ScanRange(
                last_indexed=cfg.from_block - 1,
                tip=forced_tip,
                blocks_recession=cfg.blocks_recession,
                look_behind=forced_tip,
                max_blocks=SCAN_CHUNK_BLOCKS,
            )
        else:
            scan = ScanRange(
                last_indexed=self.last_indexed,
                tip=tip,
                blocks_recession=cfg.blocks_recession,
                look_behind=cfg.blocks_look_behind,
                max_blocks=SCAN_CHUNK_BLOCKS,
            )
        while True:
            self._run_cycle(scan)
            if scan.end >= scan.window_end:
                break
            # a long catch-up advances the cursor one chunk at a time
            scan = replace(scan, last_indexed=scan.end)
        if not report_counts:
            return {"last_indexed": self.last_indexed}
        counts = {}
        for name, t in self.tables.items():
            df = t.read()
            counts[name] = df.count() if df is not None else 0
        return counts


def main() -> None:
    n_blocks = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    spark = get_spark(app_name="moc-indexer-demo")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    with tempfile.TemporaryDirectory() as data_dir:
        idx = Indexer(spark, data_dir, FakeChain(CONTRACTS, USERS), CONTRACTS)
        # two incremental cycles, like two ticks of the 3s task
        for tip in (n_blocks // 2, n_blocks):
            counts = idx.run_incremental(tip, report_counts=True)
            print(f"tip={tip} cursor={idx.last_indexed} table_rows={counts}")
        tx = idx.tables["transactions"].read()
        print("sample enriched transactions:")
        tx.select(
            "transactionHash", "address", "event", "USDAmount", "RBTCTotal",
            "isPositive",
        ).orderBy(F.desc("blockNumber")).show(5, truncate=32)
    spark.stop()


if __name__ == "__main__":
    main()
