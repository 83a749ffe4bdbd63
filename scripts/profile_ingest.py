#!/usr/bin/env python
"""Profiler for the MoR ingest tick: where a 10-block cycle spends its time.

Runs the phases of `Indexer.run_incremental` SERIALLY (no thread-pool
overlap), so cost attributes to phases: block scan plus the routing
action, the event-pipeline build for the routed outputs, and one real
`ParquetUpsertTable.upsert` per routed sink (raw_transactions, then the
outputs `Indexer.routed_outputs` picks from `events.TICK_OUTPUT_EVENTS`).

Usage: python scripts/profile_ingest.py
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
    TICK_SINKS,
    USERS,
    Indexer,
    _scan_events,
)
from moc_indexer_spark.operators.events import run_event_pipeline  # noqa: E402
from moc_indexer_spark.session import get_spark, ship_package  # noqa: E402
from moc_indexer_spark.sources.chain import FakeChain, ScanRange, scan_blocks  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="profile-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    d = tempfile.mkdtemp(prefix="profile_ingest_")
    ix = Indexer(spark, d, FakeChain(CONTRACTS, USERS, 20), CONTRACTS)
    ix.run_incremental(tip=2000)  # warm, same as bench_ingest

    for cycle, tip in enumerate(range(2010, 2040, 10)):
        print(f"--- cycle {cycle} tip={tip}")
        t0 = time.perf_counter()
        scan = ScanRange(last_indexed=ix.last_indexed, tip=tip,
                         blocks_recession=ix.config.blocks_recession,
                         look_behind=ix.config.blocks_look_behind)
        raw = scan_blocks(spark, ix.fetcher, scan, set(ix.contracts)).cache()
        _, events = _scan_events(raw)
        routed = ix.routed_outputs(events)
        t1 = time.perf_counter()
        print(f"  scan+cache+route: {t1 - t0:.3f} events={sorted(events)}")
        outs = run_event_pipeline(raw, moc_contract=ix.contracts[0],
                                  only=routed)
        t2 = time.perf_counter()
        print(f"  pipeline build (lazy) {list(routed)}: {t2 - t1:.3f}")
        work = [("raw_transactions", raw, True)] + [
            (TICK_SINKS[out][0], outs[out], TICK_SINKS[out][1])
            for out in routed
        ]
        for name, batch, insert in work:
            s0 = time.perf_counter()
            ix.tables[name].upsert(batch, insert=insert)
            print(f"  {name}{'' if insert else '[upd]'}: upsert "
                  f"{time.perf_counter() - s0:.3f}")
        ix.last_indexed = scan.end
        raw.unpersist()
        print(f"  TOTAL {time.perf_counter() - t0:.3f}")
    spark.stop()
    shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
