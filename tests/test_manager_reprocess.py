"""T5 reprocess window + T10/T11 query manager/watchdog tests."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from moc_indexer_spark.streaming.manager import QueryManager
from moc_indexer_spark.streaming.pipeline import run_batch, reprocess_unprocessed
from moc_indexer_spark.streaming.sink import ParquetUpsertTable
from moc_indexer_spark.tables import table


def test_reprocess_window(spark, tmp_path, sf_dir):
    """Rows with process_logs null within the 24h window and older than 5
    min are re-enriched from the raw source; younger/older ones are not."""
    src = f"{tmp_path}/src"
    events = table(spark, sf_dir, "events").orderBy("event_id").limit(200)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    tbl = run_batch(spark, src, f"{tmp_path}/out")
    # the one-shot append spreads over the session's parallelism (one
    # delta file per write task), not the tick path's single task
    assert tbl.history() == [0]
    seq_dir = os.path.join(tbl.path, "__seq=0")
    assert sum(f.endswith(".parquet") for f in os.listdir(seq_dir)) > 1

    tip = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    # break 3 rows inside the window and 1 row outside it (too old)
    existing = tbl.read()
    in_window = [r.tx_hash for r in existing.filter(
        (F.col("created_at") >= F.lit(tip).cast("timestamp") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("created_at") <= F.lit(tip).cast("timestamp") - F.expr("INTERVAL 300 SECONDS"))
    ).limit(3).collect()]
    too_old = [r.tx_hash for r in existing.filter(
        F.col("created_at") < F.lit(tip).cast("timestamp") - F.expr("INTERVAL 24 HOURS")
    ).limit(1).collect()]
    assert len(in_window) == 3 and len(too_old) == 1
    broken = existing.withColumn(
        "process_logs",
        F.when(F.col("tx_hash").isin(in_window + too_old), F.lit(None)).otherwise(
            F.col("process_logs")
        ),
    )
    tbl.upsert(broken)

    n = reprocess_unprocessed(spark, tbl, src, tip)
    assert n == 3  # only the in-window rows
    fixed = tbl.read().filter(F.col("tx_hash").isin(in_window)).collect()
    assert all(r.process_logs for r in fixed)
    still_null = tbl.read().filter(F.col("tx_hash").isin(too_old)).collect()
    assert all(r.process_logs is None for r in still_null)


def test_query_manager_restarts_dead_query(spark):
    mgr = QueryManager(spark, stall_timeout_s=3600)

    def start():
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("noop")
            .queryName("rate_noop")
            .start()
        )

    mgr.register("rate_noop", start)
    mgr.start_all()
    q = mgr.queries["rate_noop"].query
    assert q.isActive
    assert mgr.supervise_once() == []  # healthy -> nothing restarted
    q.stop()  # simulate death (T10 lost chain)
    restarted = mgr.supervise_once()
    assert restarted == ["rate_noop"]
    assert mgr.queries["rate_noop"].query.isActive
    assert mgr.queries["rate_noop"].restarts == 1
    mgr.stop_all()


def test_query_manager_restarts_stalled_query(spark):
    """The stall path end-to-end: listener keys and StreamingQuery.id must
    agree (listener events carry uuid.UUID, q.id is a str — un-normalized
    they never matched and stall detection was dead code)."""
    import time as _time

    mgr = QueryManager(spark, stall_timeout_s=5.0)

    def start():
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("noop")
            .queryName("rate_stall")
            .start()
        )

    mgr.register("rate_stall", start)
    mgr.start_all()
    q = mgr.queries["rate_stall"].query
    assert q.isActive
    # the listener's key for this ACTIVE query must be str(q.id) — pin the
    # normalization, then backdate the heartbeat past the stall timeout
    deadline = _time.time() + 30
    while str(q.id) not in mgr.listener.last_progress:
        assert _time.time() < deadline, "listener never keyed str(q.id)"
        _time.sleep(0.5)
    with mgr.listener._lock:
        mgr.listener.last_progress[str(q.id)] = _time.time() - 3600
    restarted = mgr.supervise_once()
    assert restarted == ["rate_stall"]
    assert mgr.queries["rate_stall"].query.isActive
    assert mgr.queries["rate_stall"].query.id != q.id
    mgr.stop_all()
