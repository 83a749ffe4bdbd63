"""Incrementally-maintained BM25 inverted index under Structured
Streaming.

No reference analog (BASELINE.json north star) — the streaming sibling of
`operators/retrieval.py`: documents arrive as files and the four index
relations are maintained incrementally, so a probe never rescans the
corpus. This is the text-index counterpart of the streaming near-dedup
and incremental-rollup maintainers.

Exactly-once design — every write is an idempotent overwrite of a
batch-stamped directory, so ANY crash/replay prefix converges:

* `postings/batch=N`, `lengths/batch=N`: the batch delta, recomputed
  identically on replay (new-doc detection anti-joins lengths partitions
  from batches < N only, so a replay is blind to its own partial
  writes).
* `dfreq/batch=N`, `stats/batch=N`: full SNAPSHOTS (prior snapshot ∪
  delta, re-aggregated) — vocab-sized and 1-row respectively, so
  rewriting them per batch is cheap, and an overwrite of the same
  directory is idempotent where a fold into mutable state would
  double-count on replay.
* `stats/batch=N` is written LAST and is the COMMIT RECORD: a batch is
  applied iff its stats snapshot exists. Probes resolve the latest
  committed batch from stats/ and read every relation AS OF that batch
  (postings/lengths partitions <= N, the dfreq/stats snapshots = N), so
  a half-written batch is invisible. No marker files, no directory
  swaps, no crash window.

The single-writer contract every Structured Streaming sink has still
applies (one owning stream/checkpoint; batch ids must not restart
against an existing index). Old snapshots are pruned opportunistically
(keep the committed one plus the in-flight one).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import retrieval as RT
from .compaction import (
    BatchLog,
    FoldScheduler,
    _BATCH_RE,
    list_committed_batches,
)
from .triggers import apply_max_files_per_trigger


class IncrementalBm25Index:
    """Parquet-backed BM25 index maintained one micro-batch at a time."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        compact_every: int | None = None,
        fold_budget_sec: float | None = None,
    ):
        """`compact_every` and `fold_budget_sec` drive `self.folds`, the
        shared in-tick fold policy (compaction.FoldScheduler): once a
        batched relation's tail above its fold base reaches
        `compact_every` dirs, fold it — AT MOST ONE relation per update
        (lengths and postings round-robin, so an update tick never
        absorbs two rewrites; the waiting relation overshoots by at most
        one update). None (default) keeps the bare out-of-band compact()
        contract the flat update exponents previously assumed."""
        self.spark = spark
        self.path = path.rstrip("/") or path
        os.makedirs(self.path, exist_ok=True)
        # postings/lengths are batch logs (compaction.BatchLog); a fold
        # writes one file per four folded dirs
        self.logs = {
            name: BatchLog(spark, self._dir(name), batches_per_file=4)
            for name in ("lengths", "postings")
        }
        # MINOR folds only (round 9): the in-tick merge covers the tail
        # since the newest full-fold base, O(post-base tail) rows
        # regardless of index size; the O(index) full fold stays
        # compact_index()'s out-of-band contract
        self.folds = FoldScheduler(
            tuple(
                (name, lambda log=log: log.tail_count(self.committed_batch()),
                 lambda log=log: log.fold(self.committed_batch(), minor=True))
                for name, log in self.logs.items()
            ),
            compact_every, fold_budget_sec,
        )

    # -- state ---------------------------------------------------------------

    def _dir(self, name: str) -> str:
        return f"{self.path}/{name}"

    def committed_batch(self) -> int:
        """Highest batch whose commit record (stats snapshot) exists."""
        b = list_committed_batches(self._dir("stats"))
        return b[-1] if b else -1

    def _read_snapshot(self, name: str, batch: int) -> DataFrame | None:
        if batch < 0 or batch not in list_committed_batches(self._dir(name)):
            return None
        return self.spark.read.parquet(f"{self._dir(name)}/batch={batch}")

    def _prune_snapshots(self, name: str, keep_from: int) -> None:
        d = self._dir(name)
        if not os.path.isdir(d):
            return
        for f in os.listdir(d):
            m = _BATCH_RE.match(f)
            if m and int(m.group(1)) < keep_from:
                shutil.rmtree(os.path.join(d, f), ignore_errors=True)

    # -- maintenance ---------------------------------------------------------

    def update(self, batch_docs: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch of documents into the index (foreachBatch
        body). Idempotent under replay of any prefix of its steps."""
        tick_start = time.perf_counter()
        committed = self.committed_batch()
        if batch_id <= committed:
            return
        # keeper for in-batch doc_id duplicates must be deterministic so a
        # replay rebuilds the identical delta: order by content, not by
        # the partition key
        w = Window.partitionBy("doc_id").orderBy("text")
        batch = (
            batch_docs.select("doc_id", "text")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        seen = self.logs["lengths"].read(batch_id - 1)
        if seen is not None:
            batch = batch.join(seen.select("doc_id"), "doc_id", "left_anti")
        # four write actions consume the delta — cache it for the update's
        # duration so the dedup window + full-history anti-join run once
        batch = batch.persist()
        try:
            self._write_generation(batch, batch_id, committed)
        finally:
            batch.unpersist()
        self.folds.maybe_fold_one(tick_start)

    def _write_generation(self, batch, batch_id: int, committed: int) -> None:
        postings, lengths, dfreq_delta, stats_delta = RT._index_relations(
            batch
        )
        self.logs["lengths"].append(batch_id, lengths)
        self.logs["postings"].append(batch_id, postings)

        prev_dfreq = self._read_snapshot("dfreq", committed)
        dfreq = dfreq_delta if prev_dfreq is None else (
            prev_dfreq.unionByName(dfreq_delta)
            .groupBy("term")
            .agg(F.sum("df").cast("bigint").alias("df"))
        )
        dfreq.coalesce(1).write.mode("overwrite").parquet(
            f"{self._dir('dfreq')}/batch={batch_id}"
        )

        prev_stats = self._read_snapshot("stats", committed)
        stats = stats_delta if prev_stats is None else (
            prev_stats.unionByName(stats_delta).agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("sum_dl").cast("bigint").alias("sum_dl"),
            )
        )
        # the commit record — written last
        stats.coalesce(1).write.mode("overwrite").parquet(
            f"{self._dir('stats')}/batch={batch_id}"
        )
        # keep the PREVIOUS committed generation too: a lazy probe plan
        # built before this commit may still reference its snapshot paths
        for name in ("dfreq", "stats"):
            self._prune_snapshots(name, keep_from=max(committed, 0))

    # -- probe ---------------------------------------------------------------

    def probe(
        self,
        queries: list[tuple[int, str]] | None = None,
        k: int = RT.TOP_K,
        k1: float = RT.K1,
        b: float = RT.B,
    ) -> DataFrame:
        """Search the latest COMMITTED index state; empty result on a
        fresh index."""
        queries = RT.QUERIES if queries is None else queries
        committed = self.committed_batch()
        empty_schema = (
            "query_id int, rank int, doc_id bigint, score double"
        )
        if committed < 0:
            return self.spark.createDataFrame([], empty_schema)
        terms = sorted({t for _, q in queries for t in q.split(" ")})
        postings = self.logs["postings"].read(committed).filter(
            F.col("term").isin(terms)
        )
        return RT._score_probe(
            postings,
            self.logs["lengths"].read(committed),
            self._read_snapshot("dfreq", committed),
            self._read_snapshot("stats", committed),
            RT._qterms(self.spark, queries),
            k, k1, b,
        )


def run_bm25_index_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
    compact_every: int | None = None,
) -> IncrementalBm25Index:
    """Drain all available document files into the index (deterministic
    replay mode; production uses a processing-time trigger). One slice
    file per micro-batch by default — availableNow otherwise folds every
    pending file into a single batch and the incremental fold never
    exercises more than one update. `compact_every` enables the
    auto-compaction policy (see IncrementalBm25Index)."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    idx = IncrementalBm25Index(spark, index_dir, compact_every=compact_every)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx.update(batch_df, batch_id)

    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return idx


def compact_index(idx: IncrementalBm25Index) -> int:
    """Fold all committed postings/lengths batch partitions into a single
    partition at the committed batch id — the OPTIMIZE/compaction
    maintenance action for the streaming index (every micro-batch adds a
    directory; at cluster scale thousands of tiny partitions destroy
    probe scan throughput the same way small files do, see
    tables.compact_parquet).

    Contract: an OUT-OF-BAND maintenance action under the index's
    single-writer lock — do not run concurrently with update(), and
    treat lazy probe plans built before compaction as invalidated (the
    same reader contract as Delta VACUUM; fresh probes always resolve
    the current directories). Crash-CONSISTENT rather than windowless:
    every step preserves a recoverable copy (fold target is written to a
    tmp directory first; superseded partitions move to a trash directory
    before the one-rename swap; trash is deleted last), and the entry
    point completes or rolls back any interrupted previous run before
    starting — so a crash at ANY point leaves an index that the next
    compact_index() call heals to exactly the folded state. Returns the
    number of batch partitions folded away.
    """
    committed = idx.committed_batch()
    return sum(log.fold(committed) for log in idx.logs.values())
