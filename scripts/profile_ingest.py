#!/usr/bin/env python
"""Profiler for the MoR ingest cycle: where a catch-up cycle and the
10-block ticks after it spend their time.

Runs the phases of `Indexer.run_incremental` SERIALLY (no thread-pool
overlap), so cost attributes to phases: the driver-side block scan
plus the routing action, the event-pipeline build for the routed
outputs, and one real `ParquetUpsertTable.upsert` per chained batch —
the chains are `Indexer.tick_chains`' own, at the shard count the
cycle's block count gates (`app._delta_shards`). The first cycle is the
catch-up that creates every table; three 10-block ticks follow.

Usage: python scripts/profile_ingest.py [catchup_blocks]   (default 60;
perfbench's indexer_daemon catch-up is 4000)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moc_indexer_spark.app import (  # noqa: E402
    CONTRACTS,
    USERS,
    Indexer,
    _delta_shards,
    _scan_events,
)
from moc_indexer_spark.session import get_spark  # noqa: E402
from moc_indexer_spark.sources.chain import FakeChain, ScanRange, scan_blocks  # noqa: E402

FIRST_BLOCK = 10_000


def profile_cycle(spark, ix: Indexer, tip: int) -> None:
    t0 = time.perf_counter()
    scan = ScanRange(last_indexed=ix.last_indexed, tip=tip,
                     blocks_recession=ix.config.blocks_recession,
                     look_behind=ix.config.blocks_look_behind)
    shards = _delta_shards(scan.end - scan.start + 1,
                           spark.sparkContext.defaultParallelism)
    raw = scan_blocks(spark, ix.fetcher, scan, set(ix.contracts))
    _, events = _scan_events(raw)
    t1 = time.perf_counter()
    print(f"  scan+route: {t1 - t0:.3f} events={sorted(events)}")
    chains = ix.tick_chains(raw, events)
    t2 = time.perf_counter()
    print(f"  pipeline build (lazy) {list(chains)}: {t2 - t1:.3f}")
    for name, batches in chains.items():
        for batch, insert in batches:
            s0 = time.perf_counter()
            ix.tables[name].upsert(batch, insert=insert, shards=shards)
            print(f"  {name}{'' if insert else '[upd]'}: upsert "
                  f"{time.perf_counter() - s0:.3f}")
    ix.last_indexed = scan.end
    print(f"  TOTAL {time.perf_counter() - t0:.3f} (shards={shards})")


def main() -> None:
    catchup = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    spark = get_spark(app_name="profile-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="profile_ingest_")
    try:
        ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, 20), CONTRACTS)
        ix.last_indexed = FIRST_BLOCK - 1  # restored checkpoint cursor
        tip = FIRST_BLOCK + catchup - 1 + ix.config.blocks_recession
        print(f"--- catch-up {catchup} blocks tip={tip}")
        profile_cycle(spark, ix, tip)
        for cycle in range(3):
            tip += 10
            print(f"--- tick {cycle} tip={tip}")
            profile_cycle(spark, ix, tip)
    finally:
        spark.stop()
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
