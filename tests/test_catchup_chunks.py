"""A window longer than `app.SCAN_CHUNK_BLOCKS` (a catch-up after an
outage) runs as consecutive cycles of that many blocks: the driver holds
one chunk's scan at a time, the cursor advances chunk by chunk, and the
tables equal those one whole-window cycle writes."""

import pytest

from moc_indexer_spark import app
from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
from moc_indexer_spark.sources.chain import FakeChain

TIP = 40  # cold start: the window is blocks 0 .. TIP - recession
TABLES = ("raw_transactions", "transactions")


def _rows(ix, name):
    return sorted(map(repr, ix.tables[name].read().collect()))


@pytest.fixture()
def whole(spark, tmp_path):
    ix = Indexer(spark, str(tmp_path / "whole"), FakeChain(CONTRACTS, USERS),
                 CONTRACTS)
    ix.run_incremental(TIP)
    return ix


def test_catchup_runs_in_chunks(spark, tmp_path, monkeypatch, whole):
    windows = []
    real = app.scan_blocks

    def spy(spark, fetcher, scan, contracts):
        windows.append((scan.start, scan.end, scan.tip))
        return real(spark, fetcher, scan, contracts)

    monkeypatch.setattr(app, "scan_blocks", spy)
    monkeypatch.setattr(app, "SCAN_CHUNK_BLOCKS", 10)
    ix = Indexer(spark, str(tmp_path / "chunked"),
                 FakeChain(CONTRACTS, USERS), CONTRACTS)
    ix.run_incremental(TIP)
    # confirmations count from the cycle's tip in every chunk
    end = whole.last_indexed
    assert windows == [(0, 9, TIP), (10, 19, TIP), (20, 29, TIP),
                       (30, end, TIP)]
    assert ix.last_indexed == end > 30
    for name in TABLES:
        assert _rows(ix, name) == _rows(whole, name)


def test_failed_chunk_keeps_the_last_whole_chunk(spark, tmp_path,
                                                 monkeypatch, whole):
    chain, failing = FakeChain(CONTRACTS, USERS), {25}

    def fetcher(bn):
        if bn in failing:
            raise ConnectionError(f"block {bn}")
        return chain(bn)

    monkeypatch.setattr(app, "SCAN_CHUNK_BLOCKS", 10)
    ix = Indexer(spark, str(tmp_path / "faulted"), fetcher, CONTRACTS)
    with pytest.raises(ConnectionError, match="block 25"):
        ix.run_incremental(TIP)
    assert ix.last_indexed == 19  # blocks 0..19 are written, 20..29 not
    failing.clear()
    ix.run_incremental(TIP)
    assert ix.last_indexed == whole.last_indexed
    for name in TABLES:
        assert _rows(ix, name) == _rows(whole, name)
