"""Tick routing: an indexer tick upserts `raw_transactions` whenever its
scan has rows, and each other sink only when the tick carries an event
that feeds it (`events.TICK_OUTPUT_EVENTS`) or its table does not exist
yet. The reference's demux calls a handler only for the logs a block
range carries (scan_events_txs.py:134-157).

Routing may skip work, never rows: the resolved tables equal those of
the unrouted tick (six upserts on every non-quiet tick), and no event
gives rows to an output the map does not route it to."""

import datetime as dt
import json

from pyspark.sql import functions as F

from moc_indexer_spark.app import CONTRACTS, TICK_SINKS, USERS, Indexer
from moc_indexer_spark.operators.events import (
    EVENT_SCHEMAS,
    TICK_OUTPUT_EVENTS,
    run_event_pipeline,
)
from moc_indexer_spark.sources.chain import RAW_TX_SCHEMA, ScanRange, scan_blocks

TICK_BLOCKS = 10
FIRST = 100
TICK_TABLES = ("raw_transactions", "transactions", "transfers", "fastbtc",
               "notifications")


def _exchange(i):
    return ("RiskProMint", {
        "account": USERS[i], "amount": str(i * 10**15),
        "reserveTotal": str((i + 1) * 10**15), "commission": str(i * 10**12),
        "reservePrice": str(42_000 * 10**18),
        "mocCommissionValue": str(10**12), "mocPrice": str(5 * 10**17),
        "btcMarkup": "0",
    })


def _transfer(i):
    return ("Transfer", {"from": USERS[i], "to": USERS[i + 1],
                         "value": str(i * 10**18)})


def _peg_out(tid):
    return ("NewBitcoinTransfer", {
        "transferId": tid, "btcAddress": "bc1q" + tid, "nonce": 1,
        "amountSatoshi": "100000", "feeSatoshi": "500",
        "rskAddress": USERS[3],
    })


def _status(tid, new_status):
    return ("BitcoinTransferStatusUpdated",
            {"transferId": tid, "newStatus": new_status})


STATE = ("StateTransition", {"newState": 3})
APPROVAL = ("Approval", {"owner": USERS[4], "spender": CONTRACTS[0],
                         "value": "7"})


class ScheduledChain:
    """Tick k's logs sit in block FIRST + k * TICK_BLOCKS: one watched tx
    per (event, payload, status); every other block is empty."""

    def __init__(self, ticks):
        self.blocks = {FIRST + k * TICK_BLOCKS: txs
                       for k, txs in enumerate(ticks)}

    def __call__(self, bn):
        return [{
            "hash": f"0x{bn:08x}{i:04x}",
            "blockNumber": bn,
            "from": USERS[i],
            "to": CONTRACTS[0],
            "value": "0",
            "gas": 2_000_000,
            "gasPrice": str(6 * 10**7),
            "gas_used": 50_000 + i,
            "timestamp": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=30 * bn),
            "logs": [{"address": CONTRACTS[0], "logIndex": 0,
                      "event_name": event, "payload": json.dumps(payload)}],
            "status": status,
        } for i, ((event, payload), status) in enumerate(
            self.blocks.get(bn, []))]


def _ok(*logs):
    return [(log, "confirmed") for log in logs]


def _indexer(spark, path, chain):
    ix = Indexer(spark, path, chain, CONTRACTS)
    ix.last_indexed = FIRST - 1
    return ix


def _tip(ix, k):
    return FIRST + (k + 1) * TICK_BLOCKS - 1 + ix.config.blocks_recession


def _unrouted_tick(ix, tip):
    """The tick before routing: six upserts on every non-quiet scan."""
    cfg = ix.config
    scan = ScanRange(last_indexed=ix.last_indexed, tip=tip,
                     blocks_recession=cfg.blocks_recession,
                     look_behind=cfg.blocks_look_behind)
    raw = scan_blocks(ix.spark, ix.fetcher, scan, set(ix.contracts)).cache()
    try:
        if not raw.isEmpty():
            outs = run_event_pipeline(
                raw, moc_contract=ix.contracts[0],
                only=("transactions", "transfers", "fastbtc_new",
                      "fastbtc_updates", "notifications"),
            )
            t = ix.tables
            t["raw_transactions"].upsert(raw)
            t["transactions"].upsert(outs["transactions"])
            t["transfers"].upsert(outs["transfers"])
            t["fastbtc"].upsert(outs["fastbtc_new"])
            t["fastbtc"].upsert(outs["fastbtc_updates"], insert=False)
            t["notifications"].upsert(outs["notifications"])
        ix.last_indexed = scan.end
    finally:
        raw.unpersist()


def _snapshot(table):
    df = table.read()
    if df is None:
        return None
    cols = sorted(df.columns)
    return cols, sorted(map(str, df.select(*cols).collect()))


def _dirs(ix):
    return {n: len(ix.tables[n].history()) for n in TICK_TABLES}


def test_routed_ticks_resolve_like_unrouted_ticks(spark, tmp_path):
    ticks = [
        _ok(_exchange(0), _exchange(1)),
        _ok(_transfer(1)),
        _ok(_peg_out("t1"), _peg_out("t2")),
        [],  # quiet: the scan holds no row
        _ok(_status("t1", 2), _status("t9", 2)),  # t9 was never inserted
        _ok(STATE),
        [(_transfer(2), "reverted"), (_peg_out("t4"), "reverted")],
        _ok(APPROVAL),  # an event no tick output reads
        _ok(_exchange(2), _transfer(3), _peg_out("t3"), _status("t2", 3),
            STATE),
        # an insert and its status update in one tick: the update-only
        # pass must run after the insert that creates the key
        _ok(_peg_out("t5"), _status("t5", 2)),
    ]
    every = set(TICK_TABLES)
    gains = [every, {"raw_transactions", "transfers"},
             {"raw_transactions", "fastbtc"}, set(),
             {"raw_transactions", "fastbtc"},
             {"raw_transactions", "notifications"}, {"raw_transactions"},
             {"raw_transactions"}, every, {"raw_transactions", "fastbtc"}]
    chain = ScheduledChain(ticks)
    routed = _indexer(spark, str(tmp_path / "routed"), chain)
    unrouted = _indexer(spark, str(tmp_path / "unrouted"), chain)
    for k, gained in enumerate(gains):
        before = _dirs(routed)
        routed.run_incremental(_tip(routed, k))
        _unrouted_tick(unrouted, _tip(unrouted, k))
        after = _dirs(routed)
        assert {n for n in TICK_TABLES if after[n] > before[n]} == gained, k
        assert routed.last_indexed == unrouted.last_indexed
        for name in TICK_TABLES:
            assert _snapshot(routed.tables[name]) == _snapshot(
                unrouted.tables[name]), (k, name)
    fb = {r.transferId: r.status for r in routed.tables["fastbtc"].read()
          .select("transferId", "status").collect()}
    assert fb == {"t1": 2, "t2": 3, "t3": 1, "t5": 2}
    assert routed.tables["notifications"].read().count() == 2


def test_every_routed_output_has_a_sink():
    """The routing map (event names per output) and the sink map (table
    per output, in upsert order) name the same outputs."""
    assert set(TICK_SINKS) == set(TICK_OUTPUT_EVENTS)


def test_each_event_feeds_only_its_routed_outputs(spark):
    """One confirmed log per event name in EVENT_SCHEMAS, each in its own
    tx: an output may hold rows only from the events the map routes to
    it. Every field of a payload is set, so each mapped event does give
    rows, and every output is reached by some event."""

    def value(field):
        return 1 if field.dataType.simpleString() == "bigint" else "1"

    rows = []
    for name, schema in EVENT_SCHEMAS.items():
        payload = {f.name: value(f) for f in schema.fields}
        rows.append((
            name, 1, USERS[0], CONTRACTS[0], "0", 2_000_000, "1", "0x", True,
            False, 21_000, 3, dt.datetime(2024, 1, 1),
            [(CONTRACTS[1], 0, name, json.dumps(payload))], "confirmed",
        ))
    raw = spark.createDataFrame(rows, RAW_TX_SCHEMA)
    outs = run_event_pipeline(raw, only=tuple(TICK_OUTPUT_EVENTS))
    assert set(outs) == set(TICK_OUTPUT_EVENTS)
    hash_col = {"fastbtc_updates": "transactionHashLastUpdated"}
    fed = {
        out: {r[0] for r in df.select(
            F.col(hash_col.get(out, "transactionHash"))).collect()}
        for out, df in outs.items()
    }
    for out, names in TICK_OUTPUT_EVENTS.items():
        assert fed[out] <= set(names), out
        assert fed[out], out


def test_deltas_per_cycle(spark, tmp_path):
    """The first cycle creates every tick table; an exchange-only tick
    then adds one delta to raw_transactions and transactions and none
    elsewhere; a quiet tick adds none."""
    chain = ScheduledChain([_ok(_exchange(0)), _ok(_exchange(1)), []])
    ix = _indexer(spark, str(tmp_path / "ix"), chain)
    ix.run_incremental(_tip(ix, 0))
    first = _dirs(ix)
    assert all(ix.tables[n].exists() for n in TICK_TABLES)
    ix.run_incremental(_tip(ix, 1))
    second = _dirs(ix)
    assert {n: second[n] - first[n] for n in TICK_TABLES} == {
        "raw_transactions": 1, "transactions": 1, "transfers": 0,
        "fastbtc": 0, "notifications": 0}
    ix.run_incremental(_tip(ix, 2))
    assert _dirs(ix) == second
    assert ix.last_indexed == FIRST + 3 * TICK_BLOCKS - 1


def test_tick_plans_scan_a_local_relation(spark, tmp_path, monkeypatch):
    """Every write a tick runs (the routing action and each upsert's
    append) plans over the scan's local relation: no plan holds an RDD
    scan, so no tick job starts a Python worker for the chain data."""
    from pyspark.sql.readwriter import DataFrameWriter

    chain = ScheduledChain([_ok(_exchange(0), _transfer(1)),
                            _ok(_exchange(2))])
    ix = _indexer(spark, str(tmp_path / "ix"), chain)
    ix.run_incremental(_tip(ix, 0))
    plans = []
    for meth in ("save", "parquet"):
        real = getattr(DataFrameWriter, meth)

        def spy(self, *args, _real=real, **kwargs):
            plans.append(
                self._df._jdf.queryExecution().executedPlan().toString())
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, meth, spy)
    ix.run_incremental(_tip(ix, 1))
    monkeypatch.undo()
    assert len(plans) == 3  # routing, raw_transactions, transactions
    assert all("LocalTableScan" in p for p in plans)
    assert not any("ExistingRDD" in p or "PythonRDD" in p for p in plans)
