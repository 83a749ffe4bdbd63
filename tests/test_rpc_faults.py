"""RpcChain fault-mode conformance over live HTTP.

Reference semantics (/root/reference/indexer/chain.py:49-86 +
scan_raw_txs.py): a missing receipt is logged-and-skipped; any RPC
exception aborts the task tick WITHOUT advancing the checkpoint cursor,
so the next tick re-scans the same window and the keyed upserts
converge. This suite drives each fault through a real in-process HTTP
JSON-RPC server and asserts exactly that behavior end-to-end:
transport retry (HTTP 500 / read timeout), JSON-RPC error objects
mid-scan, null receipts, and a chain tip that moves between calls."""

import urllib.error

import pytest

from moc_indexer_spark.sources.chain import FakeChain, ScanRange, scan_blocks
from moc_indexer_spark.sources.rpc_chain import RpcChain, RpcError
from rpc_server_util import make_rpc_server

CONTRACTS = ["0xc0de000000000000000000000000000000000001",
             "0xc0de000000000000000000000000000000000002"]
USERS = [f"0x{i:040x}" for i in range(1, 9)]
TIP = 30


@pytest.fixture()
def rpc():
    url, state, shutdown = make_rpc_server(CONTRACTS, USERS, tip=TIP)
    yield url, state
    shutdown()


def test_http_500_is_retried_then_succeeds(rpc):
    url, state = rpc
    state.fail_http_next = 2
    chain = RpcChain(url, retries=3, backoff=0.01)
    assert chain.tip() == TIP
    # both 500s consumed, plus at least one successful request
    assert state.fail_http_next == 0 and state.requests >= 3


def test_http_500_exhausts_retries_and_raises(rpc):
    url, state = rpc
    state.fail_http_next = 10
    chain = RpcChain(url, retries=1, backoff=0.01)
    with pytest.raises(urllib.error.HTTPError):
        chain.tip()
    # 1 attempt + 1 retry consumed exactly
    assert state.requests == 2


def test_read_timeout_is_retried(rpc):
    url, state = rpc
    state.sleep_once = 1.0
    chain = RpcChain(url, timeout=0.2, retries=2, backoff=0.01)
    assert chain.tip() == TIP
    assert state.requests >= 2


def test_null_receipt_is_logged_and_skipped(rpc):
    """chain.py:55-58 — TransactionNotFound on the receipt drops that tx
    only; the rest of the block survives."""
    url, state = rpc
    fake = FakeChain(CONTRACTS, USERS)
    block_n = 7
    victim = fake(block_n)[0]["hash"]
    state.null_receipts = {victim}
    got = RpcChain(url)(block_n)
    want = [tx for tx in fake(block_n) if tx["hash"] != victim]
    assert [t["hash"] for t in got] == [t["hash"] for t in want]
    assert len(got) == len(fake(block_n)) - 1


def test_rpc_error_mid_scan_raises_not_partial(rpc):
    """A JSON-RPC `error` for one block inside the window must fail the
    scan loudly (RpcError is not retried — the node answered), never
    return a silently-shortened result."""
    url, state = rpc
    state.rpc_error_blocks = {9}
    chain = RpcChain(url)
    with pytest.raises(RpcError):
        for n in range(5, 12):
            chain(n)


def test_failed_cycle_leaves_checkpoint_and_recovery_converges(
    spark, tmp_path, rpc
):
    """The S1 checkpoint contract through live HTTP: a cycle that dies on
    a mid-window RPC error must NOT advance the cursor; after the fault
    clears, re-running the same cycle converges to exactly the state an
    unfaulted indexer produces (idempotent keyed upserts re-absorb any
    partially-written sink)."""
    from moc_indexer_spark.app import Indexer

    url, state = rpc
    idx = Indexer(spark, str(tmp_path / "faulted"), RpcChain(url), CONTRACTS)
    state.rpc_error_blocks = {12}
    with pytest.raises(RpcError):  # the fetcher's own error, from the scan
        idx.run_incremental(TIP)
    assert idx.last_indexed == -1  # cursor untouched by the failed cycle

    state.rpc_error_blocks = set()
    out = idx.run_incremental(TIP)
    assert out["last_indexed"] == TIP - idx.config.blocks_recession

    # convergence target: a never-faulted indexer over the SAME client
    # (wire logs are undecoded by design, so FakeChain's decoded-event
    # sinks are not the comparison — scan-level parity with FakeChain is
    # test_scan_blocks_over_live_http_equals_fake's job)
    want_idx = Indexer(
        spark, str(tmp_path / "clean"), RpcChain(url), CONTRACTS
    )
    want_idx.run_incremental(TIP)
    got_raw = idx.tables["raw_transactions"].read()
    want_raw = want_idx.tables["raw_transactions"].read()
    got = sorted(
        (r.hash, r.blockNumber, r.status) for r in got_raw.collect()
    )
    want = sorted(
        (r.hash, r.blockNumber, r.status) for r in want_raw.collect()
    )
    assert got == want and len(got) > 0
    # raw-tx S1-S3 parity with the in-memory chain also holds post-recovery
    fake_idx = Indexer(
        spark, str(tmp_path / "fake"), FakeChain(CONTRACTS, USERS), CONTRACTS
    )
    fake_idx.run_incremental(TIP)
    fake_raw = fake_idx.tables["raw_transactions"].read()
    assert got == sorted(
        (r.hash, r.blockNumber, r.status) for r in fake_raw.collect()
    )


def test_moving_tip_confirmations_stay_pinned_to_scan_range(spark, rpc):
    """The tip can advance between RPC calls mid-scan (it does, on a real
    node). Confirmations must come from the ScanRange's pinned tip — one
    consistent snapshot per cycle — not whatever the node reports later;
    the next cycle picks up the newer tip through its own ScanRange."""
    url, state = rpc
    state.tip_step = 1  # every eth_blockNumber call moves the chain
    chain = RpcChain(url)
    t1 = chain.tip()
    scan = ScanRange(last_indexed=4, tip=t1, blocks_recession=2)
    df = scan_blocks(spark, chain, scan, set(CONTRACTS))
    rows = df.select("blockNumber", "confirmations").collect()
    assert len(rows) > 0
    assert all(r.confirmations == t1 - r.blockNumber for r in rows)
    # the server tip kept moving; a second cycle sees a strictly newer tip
    assert chain.tip() > t1


def test_watch_set_prefilters_receipt_rpcs(rpc):
    """A live fetcher constructed with watch=contracts must filter by
    address BEFORE the receipt RPC (reference order, chain.py:18-37 then
    :49-64) — on mainnet-shaped blocks that is ~100x fewer
    eth_getTransactionReceipt round trips, with an identical result set
    (scan_blocks re-applies the same filter downstream)."""
    from moc_indexer_spark.sources.rpc_chain import RpcChain

    url, state = rpc
    plain = RpcChain(url)
    watched = RpcChain(url, watch=set(CONTRACTS))

    blocks = range(1, 9)
    base = state.requests
    txs_plain = [t for b in blocks for t in plain(b)]
    plain_requests = state.requests - base

    base = state.requests
    txs_watched = [t for b in blocks for t in watched(b)]
    watched_requests = state.requests - base

    contracts = {c.lower() for c in CONTRACTS}
    want = [t for t in txs_plain
            if (t.get("to") or "").lower() in contracts
            or (t.get("from") or "").lower() in contracts]
    assert txs_watched == want and want      # same rows, same order
    assert len(txs_plain) > len(want)        # fixture has unwatched txs
    # one getBlock per block + one receipt per WATCHED tx, vs per EVERY tx
    assert watched_requests == len(blocks) + len(want)
    assert plain_requests == len(blocks) + len(txs_plain)
