"""The cycle that creates the tick tables: a table that no event of the
cycle feeds is created from its outputs' schemas alone — one delta dir,
no rows, no job over the scan — with the columns and types a cycle that
feeds it gives it; an unfed update-only output appends nothing."""

from moc_indexer_spark.sources.chain import ScanRange, scan_blocks
from moc_indexer_spark.streaming.sink import ParquetUpsertTable
from test_tick_routing import (
    STATE,
    ScheduledChain,
    _exchange,
    _indexer,
    _ok,
    _peg_out,
    _status,
    _tip,
    _transfer,
)

UNFED = ("transfers", "fastbtc", "notifications")


def _types(df):
    return {f.name: f.dataType for f in df.schema.fields}


def test_unfed_tables_are_created_from_their_schemas(spark, tmp_path):
    exchange = _indexer(spark, str(tmp_path / "exchange"),
                        ScheduledChain([_ok(_exchange(0))]))
    fed = _indexer(spark, str(tmp_path / "fed"), ScheduledChain([_ok(
        _exchange(0), _transfer(1), _peg_out("t1"), _status("t1", 2),
        STATE)]))
    for ix in (exchange, fed):
        ix.run_incremental(_tip(ix, 0))
    for name in UNFED:
        tbl = exchange.tables[name]
        assert tbl.history() == [0], name
        assert tbl.read().count() == 0, name
        assert fed.tables[name].read().count() > 0, name
        want = _types(fed.tables[name].read())
        assert _types(tbl.read()) == want, name
        # the empty delta's files carry the schema: a fresh reader infers it
        fresh = ParquetUpsertTable(spark, tbl.path, keys=tbl.keys)
        assert _types(fresh.read()) == want, name


def test_creation_only_batches_are_empty_local_relations(spark, tmp_path):
    ix = _indexer(spark, str(tmp_path / "ix"),
                  ScheduledChain([_ok(_exchange(0))]))
    cfg = ix.config
    scan = ScanRange(last_indexed=ix.last_indexed, tip=_tip(ix, 0),
                     blocks_recession=cfg.blocks_recession,
                     look_behind=cfg.blocks_look_behind)
    raw = scan_blocks(spark, ix.fetcher, scan, set(ix.contracts))
    chains = ix.tick_chains(raw, {"RiskProMint"})
    assert list(chains) == ["raw_transactions", "transactions", *UNFED]
    for name in UNFED:
        (batch, insert), = chains[name]  # fastbtc: no update-only pass
        assert insert
        plan = batch._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), (name, plan)
    (batch, _), = chains["transactions"]
    plan = batch._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" not in plan
