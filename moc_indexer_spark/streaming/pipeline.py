"""Ingest/transform/upsert pipeline — batch/stream parity core (SURVEY.md §3.1).

The reference's task loop (scan raw txs -> decode events -> enrich -> upsert,
/root/reference/indexer/tasks.py:210-350) becomes ONE transform function that
runs identically:
- batch: `enrich_transactions(df)` over a static DataFrame
- stream: `readStream` file source -> same function -> `foreachBatch` upsert

The reference's bookkeeping maps to Spark primitives:
- checkpoint cursors (moc_indexer collection) -> streaming checkpoint dir
- `processed: false` flag                     -> source offsets (flag gone)
- reorg margin `blocks_recession` (T1)        -> tip-k filter in the transform
- pending-queue coalescing (T7)               -> per-batch dropDuplicates
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import ParquetUpsertTable
from .triggers import apply_max_files_per_trigger

CONFIRM_BLOCKS = 10  # settings-moc-mainnet2.json:19
BLOCK_SECONDS = 30


def enrich_transactions(raw: DataFrame, tip_ts=None) -> DataFrame:
    """The per-event enrichment (scan_events_txs.py:115-157 envelope +
    mocexchange-style derived columns) on the events-shaped stream.

    tip_ts: the chain tip timestamp; in batch mode computed from the data,
    in streaming passed per micro-batch (the stream analog of `last_block`).
    """
    df = raw.select(
        F.col("event_id").alias("tx_hash"),
        F.col("user_id").alias("address"),
        F.col("event_type").alias("event"),
        # streaming file sources infer parquet timestamps as TIMESTAMP_NTZ;
        # normalize so downstream epoch math (unix_micros) binds either way
        F.col("ts").cast("timestamp").alias("created_at"),
        F.col("value").alias("amount"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )
    if tip_ts is None:
        tip = raw.agg(F.max(F.col("ts").cast("timestamp")).alias("tip_ts"))
        df = df.crossJoin(F.broadcast(tip))
    else:
        df = df.withColumn("tip_ts", F.lit(tip_ts).cast("timestamp"))
    conf = F.floor(
        (F.unix_micros("tip_ts") - F.unix_micros("created_at"))
        / float(BLOCK_SECONDS * 1_000_000)
    ).cast("bigint")
    return (
        df.withColumn("confirmations", conf)
        .withColumn(
            "status",
            F.when(F.col("confirmations") >= CONFIRM_BLOCKS, "confirmed").otherwise(
                "confirming"
            ),
        )
        .withColumn(
            "confirming_percent",
            F.least(F.lit(100).cast("bigint"), F.col("confirmations") * 10),
        )
        .withColumn("amount_dec", F.col("amount").cast("decimal(18,6)"))
        .withColumn("process_logs", F.lit(True))
        .drop("tip_ts")
    )


def reprocess_unprocessed(
    spark: SparkSession,
    tbl: ParquetUpsertTable,
    source_dir: str,
    now_ts,
    window_hours: int = 24,
    min_age_seconds: int = 300,
) -> int:
    """T5 dead-letter reprocess (scan_events_txs.py:191-238): re-run the
    enrichment for rows whose event decode never completed (process_logs
    null), bounded to the last `window_hours` and skipping rows younger
    than `min_age_seconds` (still in flight). Returns rows reprocessed.

    Same shape at scale: the candidate set is tiny (failures), so the
    re-read of the raw source is key-pruned via a broadcast semi-join.
    """
    existing = tbl.read()
    if existing is None:
        return 0
    now = F.lit(now_ts).cast("timestamp")
    cand = existing.filter(
        F.col("process_logs").isNull()
        & (F.col("created_at") >= now - F.expr(f"INTERVAL {window_hours} HOURS"))
        & (F.col("created_at") <= now - F.expr(f"INTERVAL {min_age_seconds} SECONDS"))
    ).select("tx_hash")
    n = cand.count()
    if n == 0:
        return 0
    raw = spark.read.parquet(source_dir)
    raw_cand = raw.join(
        F.broadcast(cand), raw["event_id"] == cand["tx_hash"], "left_semi"
    )
    tip = raw.agg(F.max("ts")).collect()[0][0]
    tbl.upsert(enrich_transactions(raw_cand, tip_ts=tip))
    return n


def reclassify_status(tbl: ParquetUpsertTable, tip_ts) -> None:
    """Task-5 analog (scan_transaction_status.py:141-180): recompute
    confirmations / status / percent for non-final rows against the current
    tip. Streaming leaves early-batch rows at the tip they were ingested
    under; this periodic sweep converges them — after it, stream state ==
    batch state on the reference-faithful contract (status /
    confirming_percent / confirmations capped at CONFIRM_BLOCKS; the
    deterministic replay test pins it).

    Only NON-FINAL rows are swept — the reference queries
    `{'status': 'pending'}` / `{'status': 'confirming'}` and never
    touches confirmed documents (scan_transaction_status.py:55,88),
    whose percent froze at 100. Sweeping everything also rewrote the
    WHOLE table per tick (a full-table delta each sweep); bounding it to the confirming set makes the sweep
    O(in-flight txs). A confirmed row's raw `confirmations` therefore
    freezes at its crossing value — at or above the cap by
    construction, like the reference, which stores no running count at
    all post-final.
    """
    existing = tbl.read()
    if existing is None:
        return
    existing = existing.filter(F.col("status") != "confirmed")
    conf = F.floor(
        (
            F.unix_micros(F.lit(tip_ts).cast("timestamp"))
            - F.unix_micros("created_at")
        )
        / float(BLOCK_SECONDS * 1_000_000)
    ).cast("bigint")
    updated = (
        existing.withColumn("confirmations", conf)
        .withColumn(
            "status",
            F.when(F.col("confirmations") >= CONFIRM_BLOCKS, "confirmed").otherwise(
                "confirming"
            ),
        )
        .withColumn(
            "confirming_percent",
            F.least(F.lit(100).cast("bigint"), F.col("confirmations") * 10),
        )
    )
    tbl.upsert(updated)


def run_batch(
    spark: SparkSession, source_dir: str, out_path: str
) -> ParquetUpsertTable:
    """One-shot batch run of the whole source. The table folds after every
    write (a read-dominated output), and the append spreads over the
    session's parallelism — the driver-side shard gate the Indexer applies
    to catch-up cycles — instead of the tick path's single write task."""
    raw = spark.read.parquet(source_dir)
    tbl = ParquetUpsertTable(spark, out_path, keys=["tx_hash"],
                             compact_every=1)
    tbl.upsert(enrich_transactions(raw),
               shards=spark.sparkContext.defaultParallelism)
    return tbl


def run_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema=None,
    coalesce_key: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Incremental run draining all available input then stopping — the
    deterministic-replay test mode (reference analog: the forced
    from_block/to_block range, scan_raw_txs.py:94-98). In production the
    same query runs with `trigger(processingTime='3 seconds')` (the
    reference's scan interval). Each micro-batch appends one delta to the
    sink and folds off the hot path — the low-latency choice for short
    triggers (see PLANS.md)."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    raw_stream = reader.parquet(source_dir)
    tbl = ParquetUpsertTable(spark, out_path, keys=["tx_hash"])

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tip = batch_df.agg(F.max("ts")).collect()[0][0]
        enriched = enrich_transactions(batch_df, tip_ts=tip)
        if coalesce_key:
            # T7 queue coalescing: one refresh per key per batch
            enriched = enriched.dropDuplicates([coalesce_key])
        tbl.upsert(enriched)

    (
        raw_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
