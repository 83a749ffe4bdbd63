#!/usr/bin/env python
"""One-off profiler for the MoR ingest cycle (round-5 headroom work).

Times each phase of a 10-block incremental cycle SERIALLY (no thread-pool
overlap) so cost attributes to phases: block scan, event-pipeline build,
and per-sink upsert split into its schema-probe and append-write halves.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moc_indexer_spark.app import CONTRACTS, USERS, Indexer  # noqa: E402
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
        raw.isEmpty()
        t1 = time.perf_counter()
        print(f"  scan+cache+isEmpty: {t1 - t0:.3f}")
        # same only= as app.run_incremental: the profiler must attribute
        # the cost the production cycle actually pays — the full
        # 12-output build is ~2x this driver analysis and was cut from
        # the tick for exactly that reason
        outs = run_event_pipeline(
            raw, moc_contract=ix.contracts[0],
            only=("transactions", "transfers", "fastbtc_new",
                  "fastbtc_updates", "notifications"),
        )
        t2 = time.perf_counter()
        print(f"  pipeline build (lazy): {t2 - t1:.3f}")
        work = [
            ("raw_transactions", raw, True),
            ("transactions", outs["transactions"], True),
            ("transfers", outs["transfers"], True),
            ("fastbtc", outs["fastbtc_new"], True),
            ("fastbtc", outs["fastbtc_updates"], False),
            ("notifications", outs["notifications"], True),
        ]
        for name, batch, insert in work:
            tbl = ix.tables[name]
            s0 = time.perf_counter()
            batch = tbl._dedup_incoming(batch)
            ex = tbl.exists()
            s1 = time.perf_counter()
            raw_cols = [c for c in tbl._read_raw().columns
                        if c not in ("__seq", "__deleted")] if ex else []
            s2 = time.perf_counter()
            missing = [c for c in raw_cols if c not in batch.columns]
            cur = None
            if ex and (missing or not insert):
                cur = tbl.read()
            if missing and cur is not None:
                from pyspark.sql import functions as F
                batch = batch.join(
                    F.broadcast(cur.select(*tbl.keys, *missing)),
                    tbl.keys, "left")
            if not insert and cur is not None:
                from pyspark.sql import functions as F
                batch = batch.join(
                    F.broadcast(cur.select(*tbl.keys)), tbl.keys, "left_semi")
            s3 = time.perf_counter()
            tbl._append_delta(batch)
            s4 = time.perf_counter()
            print(f"  {name}{'' if insert else '[upd]'}: dedup+exists "
                  f"{s1 - s0:.3f} schema-read {s2 - s1:.3f} "
                  f"partial/semi {s3 - s2:.3f} append {s4 - s3:.3f}")
        ix.last_indexed = scan.end
        raw.unpersist()
        print(f"  TOTAL {time.perf_counter() - t0:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
