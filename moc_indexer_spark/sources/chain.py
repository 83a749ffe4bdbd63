"""Chain source connector (S1-S3, S7): block-range scan -> raw tx rows.

Reference (/root/reference/indexer/):
- scan_raw_txs.py:65-144  incremental block loop from checkpoint+1 to
  tip - blocks_recession, per-block fetch + filter + receipt check
- chain.py:18-37          address-set transaction filter
- chain.py:49-64          receipt confirmation filter
- moc_state.py:28-132     Multicall2 batching: 49 point-in-time reads in one
  round trip (S7)

Spark-first: the chain client is an injected callable (`BlockFetcher`); the
connector fetches an inclusive block range on the driver, as the reference
daemon does in-process, and returns it as a DataFrame over one Arrow-built
local relation, so a tick runs no Python-worker job. Blocks are fetched one
per call on a driver thread pool as wide as the session's defaultParallelism
(capped at FETCH_THREADS): an I/O-bound client such as `RpcChain` overlaps
its requests, while a CPU-bound one (`FakeChain`) runs GIL-serial. The
scan is eager: a fetch fault raises from `scan_blocks` itself, and the
returned frame is a snapshot whose actions issue no further RPCs. A
caller bounds the range it scans at once (`app.SCAN_CHUNK_BLOCKS`), since
the rows live in driver memory. Incremental state
(checkpoint cursor, reorg margin) lives in the caller's streaming
checkpoint; this module is stateless.

No real RPC library ships in this environment: `FakeChain` is a
deterministic in-memory chain used by tests and demos. A web3 client drops
into the same `BlockFetcher` signature.
"""

from __future__ import annotations

import hashlib
import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# fetch(block_number) -> list of raw-tx dicts (FIXTURES.md §1 shape)
BlockFetcher = Callable[[int], list[dict]]

RAW_TX_SCHEMA = (
    "hash string, blockNumber long, from string, to string, value string, "
    "gas long, gasPrice string, input string, receipt boolean, "
    "processed boolean, gas_used long, confirmations int, timestamp timestamp, "
    "logs array<struct<address:string,logIndex:int,event_name:string,payload:string>>, "
    "status string"
)

# upper bound on the scan's driver fetch threads, whatever the session's
# defaultParallelism (a cluster's can run to hundreds)
FETCH_THREADS = 16


@dataclass
class ScanRange:
    """One incremental scan window (scan_raw_txs.py:74-98): from the
    checkpoint cursor + 1 up to tip - recession margin, or to its first
    `max_blocks` blocks when that is set (one chunk of a long catch-up;
    confirmations still count from `tip`)."""

    last_indexed: int
    tip: int
    blocks_recession: int = 2
    look_behind: int = 60
    max_blocks: int | None = None

    @property
    def start(self) -> int:
        if self.last_indexed < 0:  # cold start: tip - look_behind
            return max(0, self.tip - self.blocks_recession - self.look_behind)
        return self.last_indexed + 1

    @property
    def window_end(self) -> int:  # inclusive, ignoring max_blocks
        return self.tip - self.blocks_recession

    @property
    def end(self) -> int:  # inclusive
        if self.max_blocks is None:
            return self.window_end
        return min(self.window_end, self.start + self.max_blocks - 1)


def scan_blocks(
    spark: SparkSession,
    fetcher: BlockFetcher,
    scan: ScanRange,
    contract_addresses: set[str],
    min_confirmations: int = 1,
) -> DataFrame:
    """Block range -> filtered raw-tx DataFrame.

    The blocks are fetched on the driver, one per call on the pool
    threads; the address filter (P1) and confirmation filter (S3) run
    right after each fetch. The kept rows become one Arrow table, whose
    DataFrame is a local relation: no job runs to build it, and the
    rows live in driver memory until the frame is dropped (the caller
    bounds the range: `app.SCAN_CHUNK_BLOCKS`).

    A naive `timestamp` is read as local time of the driver process, not
    of an executor (Spark's row conversion). `RpcChain` emits naive UTC,
    so run the driver in UTC or have the fetcher emit aware datetimes."""
    if min_confirmations > scan.blocks_recession:
        # the recession margin IS the confirmation guarantee: every
        # in-window block has confs >= blocks_recession, so a larger
        # min_confirmations would silently DROP the window's youngest
        # blocks' txs forever (the caller advances its cursor past them,
        # they are never re-scanned). Refuse loudly instead.
        raise ValueError(
            f"min_confirmations={min_confirmations} exceeds "
            f"blocks_recession={scan.blocks_recession}: txs in the last "
            f"{min_confirmations - scan.blocks_recession} window blocks "
            "would be skipped and never re-scanned — raise "
            "blocks_recession instead"
        )
    blocks = list(range(scan.start, scan.end + 1))
    contracts = {a.lower() for a in contract_addresses}
    tip = scan.tip

    def fetch_block(bn: int) -> list[tuple]:
        rows = []
        for tx in fetcher(bn):
            to = (tx.get("to") or "").lower()
            frm = (tx.get("from") or "").lower()
            if to not in contracts and frm not in contracts:
                continue  # P1 address-set filter (chain.py:18-37)
            confs = tip - tx["blockNumber"]
            if confs < min_confirmations:
                # S3 receipt confirmation filter (chain.py:49-64) —
                # status-independent: a reverted receipt is no more
                # final than a confirmed one until the margin passes.
                # Given the ValueError guard above this can only fire
                # for blocks beyond scan.end (defensive).
                continue
            rows.append((
                tx["hash"], tx["blockNumber"], tx.get("from"), tx.get("to"),
                str(tx.get("value", "0")), tx.get("gas", 0),
                str(tx.get("gasPrice", "0")), tx.get("input", "0x"), True,
                False, tx.get("gas_used", 0), confs, tx["timestamp"],
                tx.get("logs", []), tx.get("status", "confirmed"),
            ))
        return rows

    threads = min(len(blocks), spark.sparkContext.defaultParallelism,
                  FETCH_THREADS) or 1
    with ThreadPoolExecutor(max_workers=threads) as pool:
        rows = [row for block in pool.map(fetch_block, blocks) for row in block]
    return spark.createDataFrame(_arrow_table(rows))


def _arrow_table(rows: list[tuple]):
    """Raw-tx row tuples -> one pyarrow.Table in RAW_TX_SCHEMA order. A
    timestamp keeps the meaning Spark's row conversion gives it
    (`TimestampType.toInternal`: a naive datetime is local time) and is
    stored as those UTC microseconds."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, TimestampType

    schema = to_arrow_schema(DataType.fromDDL(RAW_TX_SCHEMA))
    cols = list(zip(*rows)) or [()] * len(schema)
    ts = schema.get_field_index("timestamp")
    cols[ts] = [TimestampType().toInternal(v) for v in cols[ts]]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


class FakeChain:
    """Deterministic in-memory chain for tests/demos: block n derives its
    txs from sha256(n) — the same data on every fetch of the block."""

    def __init__(self, contracts: list[str], users: list[str], txs_per_block: int = 3):
        self.contracts = contracts
        self.users = users
        self.txs_per_block = txs_per_block

    def __call__(self, block_number: int) -> list[dict]:
        import datetime as dt

        out = []
        for i in range(self.txs_per_block):
            seed = hashlib.sha256(f"{block_number}:{i}".encode()).digest()
            r = int.from_bytes(seed[:8], "big")
            to_contract = r % 3 != 0  # 2/3 touch a watched contract
            payload = {"account": self.users[r % len(self.users)],
                       "amount": str((r % 10**6) * 10**15),
                       "reserveTotal": str((r % 10**5 + 1) * 10**15),
                       "commission": str((r % 10**3) * 10**12),
                       "reservePrice": str(42_000 * 10**18),
                       "mocCommissionValue": str((r % 10**3) * 10**12),
                       "mocPrice": str(5 * 10**17),
                       "btcMarkup": "0"}
            out.append({
                "hash": "0x" + seed.hex(),
                "blockNumber": block_number,
                "from": self.users[r % len(self.users)],
                "to": self.contracts[r % len(self.contracts)] if to_contract
                      else self.users[(r >> 3) % len(self.users)],
                "value": str(r % 10**18),
                "gas": 2_000_000,
                "gasPrice": str(6 * 10**7),
                "gas_used": 21_000 + r % 100_000,
                "timestamp": dt.datetime(2024, 1, 1)
                + dt.timedelta(seconds=30 * block_number),
                "logs": [{"address": self.contracts[0], "logIndex": 0,
                          "event_name": "RiskProMint",
                          "payload": json.dumps(payload)}] if to_contract else [],
                "status": "confirmed" if r % 20 != 0 else "reverted",
            })
        return out


def multicall_enrich(
    df: DataFrame,
    calls: Callable[[list[dict]], list[dict]],
    batch_size: int = 50,
    schema: str | None = None,
) -> DataFrame:
    """S7 Multicall pattern: batch point-in-time reads per partition.

    `calls(rows)` receives up to `batch_size` row-dicts and returns one
    result dict per row (one RPC round trip per batch — 49-calls-in-one as
    in moc_state.py:29-132). Used for balance/state snapshot enrichment
    where the data genuinely lives off-cluster.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    out_schema = schema or df.schema

    def run(partition):
        buf = []
        for row in partition:
            buf.append(row.asDict(recursive=True))
            if len(buf) >= batch_size:
                yield from calls(buf)
                buf = []
        if buf:
            yield from calls(buf)

    return df.sparkSession.createDataFrame(df.rdd.mapPartitions(run), out_schema)
