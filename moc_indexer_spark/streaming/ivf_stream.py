"""Incrementally-maintained IVF vector index under Structured Streaming
— the vector-side twin of `bm25_stream.py` (embeddings arrive as files;
the cell-partitioned index grows without ever rescanning the corpus).

Design deltas vs the BM25 index (this one is SIMPLER because the state
is a single relation):

* The coarse quantizer trains ONCE at index creation (standard IVF
  practice — FAISS trains on a bootstrap sample and appends forever;
  re-clustering is an offline rebuild). Centroids persist beside the
  data, so assignment is deterministic for the index's lifetime.
* Each micro-batch assigns its vectors to cells (Arrow pass, broadcast
  centroids) and writes them to `vectors/batch=N/` as ONE FLAT file
  with overwrite — the partition-per-batch idempotence trick; `cell`
  is a DATA column in the tail and becomes a PARTITION column only in
  `compact_index`'s fold base (the mixed layout and cached mixed read
  of a `partition_by="cell"` compaction.BatchLog, adopted here
  after the round-8 200k scale axis measured the per-batch
  partitionBy("cell") layout at 9.7 s/update and 7.7 s/probe: a
  1000-vector batch spans ~650 of 781 cells, so every tail batch dir
  held ~650 tiny files and each read paid thousands of file opens;
  post-compact probe on the same index was 2.1 s — pure file-count
  tax). Because there is only ONE relation, the batch directory's own
  `_SUCCESS` is the commit record; no multi-relation ordering, no
  snapshots.
* New-vector detection anti-joins ids from batches < N, so replays
  rebuild identical deltas (blind to their own partial writes).
* probe() picks each query's n_probe nearest centroids driver-side
  (KB-sized matrix) and scans ONLY those cells' directories across
  committed batches — the cell filter prunes partitions at the scan,
  so probe cost tracks probed-cell size, not index size.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .compaction import BatchLog, FoldScheduler
from .triggers import apply_max_files_per_trigger


class IncrementalIvfIndex:
    """Parquet-backed IVF index maintained one micro-batch at a time."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        compact_every: int | None = None,
        fold_budget_sec: float | None = None,
    ):
        """`compact_every` and `fold_budget_sec` drive `self.folds`, the
        shared in-tick fold policy (compaction.FoldScheduler): once the
        flat batch-dir count reaches the threshold, MINOR-fold the flat
        tail (tiered, round 9: O(cadence) rows regardless of index size,
        so the policy never lands an O(index) rewrite inside a tick;
        fold LEVELS are re-merged only by the out-of-band
        compact_index(idx)). Without it the measured flat update
        exponents assume an operator calls compact() out-of-band; a
        daemon that never does rides the flat-batch tail growth
        (SCALE_CURVE.json *_stream_policy_longrun measures both arms).
        None (default) keeps the bare out-of-band contract."""
        self.spark = spark
        self.path = path.rstrip("/") or path
        os.makedirs(self.path, exist_ok=True)
        # the vectors are a compaction.BatchLog: flat single-file tail
        # dirs (`cell` a data column, so a cell predicate pushes to their
        # row groups) over a cell-partitioned fold base (a cell predicate
        # prunes its dirs). Its cached base relation matters here: a
        # fresh DataFrame over the base re-lists its O(cells) partition
        # dirs with a distributed listing job (measured at 200k/781
        # cells: a 781-task listing stage per probe, ~1.2 s of the 2.3 s
        # steady probe). A fold checks the one-row-per-id invariant
        # (compaction.assert_unique_ids).
        self.vectors = BatchLog(
            spark, f"{self.path}/vectors", partition_by="cell",
            unique_ids=True,
        )
        self.folds = FoldScheduler(
            (("vectors",
              lambda: self.vectors.tail_count(self.committed_batch()),
              lambda: compact_index(self, minor=True)),),
            compact_every, fold_budget_sec,
        )

    # -- quantizer -----------------------------------------------------------

    def _centroids_path(self) -> str:
        return f"{self.path}/_centroids.json"

    def is_trained(self) -> bool:
        return os.path.exists(self._centroids_path())

    def train(
        self,
        bootstrap: DataFrame,
        n_cells: int = 16,
        train_sample: int = 2048,
        lloyd_iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Fit the coarse quantizer on a bootstrap corpus (deterministic
        sample + spherical Lloyd — the same regime as the batch
        `build_ivf_index`). Idempotent: retraining over an existing index
        is refused (assignments would no longer match stored cells)."""
        if self.is_trained():
            raise ValueError(
                "index already trained — rebuild the index directory to "
                "re-cluster (stored cell assignments depend on the "
                "centroids)"
            )
        import numpy as np

        sample = (
            bootstrap.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(train_sample)
            .collect()
        )
        X = np.array([r[1] for r in sample], dtype=np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        C = X[:n_cells].copy()
        for _ in range(lloyd_iters):
            assign = np.argmax(X @ C.T, axis=1)
            for c in range(n_cells):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
        tmp = self._centroids_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(C.tolist(), f)
        os.replace(tmp, self._centroids_path())

    def _load_centroids(self):
        import numpy as np

        with open(self._centroids_path()) as f:
            return np.array(json.load(f), dtype=np.float64)

    # -- state ---------------------------------------------------------------

    def committed_batch(self) -> int:
        return self.vectors.last()

    # -- maintenance ---------------------------------------------------------

    def update(
        self,
        batch_vectors: DataFrame,
        batch_id: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Assign one micro-batch to cells and append it (foreachBatch
        body). Idempotent under replay: the batch partition is an
        overwrite, and new-id detection sees only earlier batches —
        pruned to the batch's own cells (the round-7 semdedup-maintainer
        review finding applies here too: anti-joining against ALL stored
        ids reads O(index) per batch; a redelivered id carries the same
        payload, the quantizer is deterministic, so it lands in the SAME
        cell and the cell-pruned read catches it — the filter prunes the
        base's cell directories and pushes to the flat tail's row groups
        (compaction.BatchLog). An id re-sent with a different payload is an
        upstream correction -> rebuild, the shared maintainer
        contract)."""
        tick_start = time.perf_counter()
        if batch_id <= self.committed_batch():
            return
        import numpy as np
        import pandas as pd

        C = self._load_centroids()
        bc = self.spark.sparkContext.broadcast(C)

        # keeper for in-batch duplicate ids must be deterministic so a
        # replay rebuilds the identical partition: order by CONTENT (the
        # partition key is constant within the window — ordering by it
        # would let task retries pick different rows), matching
        # bm25_stream.update's order-by-text
        w = Window.partitionBy(id_col).orderBy(
            F.md5(F.col(vec_col).cast("string"))
        )
        batch = (
            batch_vectors.select(id_col, vec_col)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

        def assign(batches):
            C_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(list(pdf[vec_col]), dtype=np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                out = pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        vec_col: list(M),
                        "cell": np.argmax(Mn @ C_.T, axis=1).astype("int32"),
                    }
                )
                yield out

        assigned = batch.mapInPandas(
            assign, schema=f"{id_col} long, {vec_col} array<double>, cell int"
        ).persist()
        assigned_new = assigned
        try:
            touched = [
                r[0] for r in assigned.select("cell").distinct().collect()
            ]
            seen = self.vectors.read(batch_id - 1)
            if seen is not None and touched:
                # persist BEFORE the emptiness probe: isEmpty() executes
                # the anti-join, and without the cache the write below
                # would execute it a second time (semdedup_stream's
                # pattern — the guard must not double the hot path)
                assigned_new = assigned.join(
                    seen.filter(F.col("cell").isin(touched)).select(id_col),
                    id_col,
                    "left_anti",
                ).persist()
                if assigned_new.isEmpty():
                    # a batch fully redelivered under a NEW batch id:
                    # writing an EMPTY batch=N partition (with _SUCCESS)
                    # would poison the schema inference of every later
                    # state read (BatchLog.read) — the same guard
                    # semdedup_stream.update carries.
                    # Replays stay no-ops through this same anti-join.
                    return
            # FLAT single-file write (coalesce(1) also absorbs the
            # anti-join's shuffle fan-out) — the cell layout is
            # compact_index's job. The previous per-batch
            # partitionBy("cell") wrote one file per cell the batch
            # touched (~650 for a 1000-vector preload batch at 781
            # cells), and the round-8 200k axis measured the resulting
            # tail at 9.7 s/update, 7.7 s/probe vs 2.1 s post-compact —
            # the same defect class the round-7 semdedup review fixed.
            self.vectors.append(batch_id, assigned_new.coalesce(1))
        finally:
            if assigned_new is not assigned:
                assigned_new.unpersist()
            assigned.unpersist()
        self.folds.maybe_fold_one(tick_start)

    # -- probe ---------------------------------------------------------------

    def probe(
        self,
        query_vectors: list[tuple[int, list[float]]],
        k: int = 5,
        n_probe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        round_digits: int = 6,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Search the committed index state: per-query probe cells chosen
        driver-side, exact cosine ranking over only those cells' rows.

        ``exclude_self`` (default True) drops candidates whose corpus id
        equals the query id — right for the self-join harness where query
        ids ARE corpus ids. Pass False for external queries whose id
        namespace is unrelated to the corpus, otherwise a coincidental id
        collision would silently hide a legitimate neighbor."""
        from ..operators.similarity import cosine

        committed = self.committed_batch()
        empty = "query_id long, neighbor_id bigint, cosine_sim double, rank bigint"
        if committed < 0 or not query_vectors:
            return self.spark.createDataFrame([], empty)
        import numpy as np

        C = self._load_centroids()
        qids = np.array([q[0] for q in query_vectors], dtype=np.int64)
        Q = np.array([q[1] for q in query_vectors], dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        order = np.argsort(-(Qn @ C.T), axis=1, kind="stable")
        probes = order[:, :n_probe]
        cells = sorted({int(c) for row in probes for c in row})

        idx = self.vectors.read(committed).filter(F.col("cell").isin(cells))
        qdf = self.spark.createDataFrame(
            [
                (int(i), [float(x) for x in v], [int(c) for c in p])
                for i, v, p in zip(qids, Q, probes)
            ],
            "query_id long, qv array<double>, probe_cells array<int>",
        )
        scored = (
            F.broadcast(qdf)
            .join(idx, F.array_contains(F.col("probe_cells"), idx["cell"]))
            .filter(
                (F.col("query_id") != F.col(id_col))
                if exclude_self else F.lit(True)
            )
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                F.round(
                    cosine(F.col("qv"), F.col(vec_col).cast("array<double>")),
                    round_digits,
                ).alias("cosine_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id", "cosine_sim",
                F.col("rank").cast("bigint").alias("rank"),
            )
        )


class IncrementalIvfPqIndex(IncrementalIvfIndex):
    """Streaming COMPOSED IVF+PQ index — the incremental twin of
    `build_ivfpq_index`/`ivfpq_probe_topk`, completing the matrix
    (batch / persisted / streaming) x (IVF / IVF+PQ).

    Same exactly-once skeleton as the parent (quantizer trains once;
    each micro-batch is an idempotent overwrite of a flat `batch=N`
    file, cell-partitioned only at the fold; new-id detection
    anti-joins earlier batches),
    but rows additionally carry the residual PQ codes + the
    sequential-fold norm, and probe() is the shared codes-only ADC +
    exact-re-rank core from operators/similarity. The same
    `compact_index` maintenance action applies unchanged (the fold
    write preserves any schema)."""

    _MODEL = "_ivfpq_model.json"

    def _model_path(self) -> str:
        return f"{self.path}/{self._MODEL}"

    def is_trained(self) -> bool:
        return os.path.exists(self._model_path())

    def train(
        self,
        bootstrap: DataFrame,
        n_cells: int = 16,
        m: int = 16,
        n_codes: int = 16,
        train_sample: int = 2048,
        lloyd_iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        if self.is_trained():
            raise ValueError(
                "index already trained — rebuild the index directory to "
                "re-cluster (stored cells/codes depend on the model)"
            )
        from ..operators.similarity import (
            _collect_train_sample,
            _train_pq_books,
            _train_spherical_kmeans,
        )
        import numpy as np

        X = _collect_train_sample(bootstrap, id_col, vec_col, train_sample)
        C = _train_spherical_kmeans(X, n_cells, lloyd_iters)
        B = _train_pq_books(
            X - C[np.argmax(X @ C.T, axis=1)], m, n_codes, lloyd_iters
        )
        tmp = self._model_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"centroids": C.tolist(), "books": B.tolist()}, f)
        os.replace(tmp, self._model_path())

    def _load_model(self):
        import numpy as np

        with open(self._model_path()) as f:
            model = json.load(f)
        return (
            np.array(model["centroids"], dtype=np.float64),
            np.array(model["books"], dtype=np.float64),
        )

    def update(
        self,
        batch_vectors: DataFrame,
        batch_id: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        tick_start = time.perf_counter()
        if batch_id <= self.committed_batch():
            return
        import numpy as np
        import pandas as pd

        C, B = self._load_model()
        m = B.shape[0]
        d_sub = B.shape[2]
        bc = self.spark.sparkContext.broadcast((C, B))

        w = Window.partitionBy(id_col).orderBy(
            F.md5(F.col(vec_col).cast("string"))
        )
        batch = (
            batch_vectors.select(id_col, vec_col)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        def assign_encode(batches):
            C_, B_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                M = np.array(list(pdf[vec_col]), dtype=np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                cell = np.argmax(Mn @ C_.T, axis=1)
                Rn = Mn - C_[cell]
                codes = np.empty((len(ids), m), dtype=np.int32)
                for j in range(m):
                    S_ = Rn[:, j * d_sub : (j + 1) * d_sub]
                    d2 = ((S_[:, None, :] - B_[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "v": list(M),
                        "nrm": np.sqrt(np.cumsum(M * M, axis=1)[:, -1]),
                        "codes": list(codes),
                        "cell": cell.astype("int32"),
                    }
                )

        encoded = batch.mapInPandas(
            assign_encode,
            schema=(
                f"{id_col} long, v array<double>, nrm double, "
                "codes array<int>, cell int"
            ),
        ).persist()
        encoded_new = encoded
        try:
            # cell-pruned new-id detection (same contract as the flat-IVF
            # update above: same payload -> same cell, the anti-join scan
            # prunes to the batch's own cell directories)
            touched = [
                r[0] for r in encoded.select("cell").distinct().collect()
            ]
            seen = self.vectors.read(batch_id - 1)
            if seen is not None and touched:
                # persist before isEmpty — see the flat-IVF update
                encoded_new = encoded.join(
                    seen.filter(F.col("cell").isin(touched)).select(id_col),
                    id_col,
                    "left_anti",
                ).persist()
                if encoded_new.isEmpty():
                    # fully-redelivered batch under a new id — see the
                    # flat-IVF update: an empty batch=N partition would
                    # poison BatchLog.read's schema inference
                    return
            # FLAT single-file write — see the flat-IVF update above
            # (cell-partitioning is compact_index's job; per-batch
            # partitionBy was the measured 200k-axis wall)
            self.vectors.append(batch_id, encoded_new.coalesce(1))
        finally:
            if encoded_new is not encoded:
                encoded_new.unpersist()
            encoded.unpersist()
        self.folds.maybe_fold_one(tick_start)

    def probe(
        self,
        query_vectors: list[tuple[int, list[float]]],
        k: int = 5,
        n_probe: int = 4,
        refine: int | None = 8,
        id_col: str = "vec_id",
        round_digits: int = 6,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Search the committed state via the shared IVF+PQ probe core
        (codes-only ADC over probed cells + exact re-rank). Default
        exclude_self=True matches the parent's self-join harness
        semantics."""
        from ..operators.similarity import ivfpq_probe_frame

        committed = self.committed_batch()
        empty = (
            "query_id long, neighbor_id bigint, cosine_sim double, rank bigint"
        )
        if committed < 0 or not query_vectors:
            return self.spark.createDataFrame([], empty)
        C, B = self._load_model()
        return ivfpq_probe_frame(
            self.spark,
            lambda cells: self.vectors.read(committed).filter(
                F.col("cell").isin(cells)
            ),
            C, B, query_vectors, k=k, n_probe=n_probe, refine=refine,
            id_col=id_col, round_digits=round_digits,
            exclude_self=exclude_self,
        )


def compact_index(idx: IncrementalIvfIndex, minor: bool = False) -> int:
    """Fold committed vector batch partitions into one partition at
    the committed batch id, preserving the cell sub-partitioning (so
    probes keep their partition-pruned scans). Same crash-consistent
    swap protocol as the BM25 index — see streaming/compaction.py for
    the recovery-state matrix; out-of-band under the single-writer lock.
    Returns the number of batch partitions folded away.

    `minor=True` is the TIERED in-tick form (semdedup_stream's round-9
    design, incl. its two measured-and-rejected predecessors — see its
    compact() docstring): merge the flat tail since the cell-partitioned
    base into ONE FLAT file (cell stays a data column -> row-group
    pushdown; never a new partitioned level), leaving the base
    untouched; O(post-base tail) rows, bounded between out-of-band full
    folds. The full fold stays the OUT-OF-BAND contract. Either form
    raises on an id stored twice in the folded range (the changed-
    payload redelivery the cell-pruned anti-join cannot see)."""
    return idx.vectors.fold(idx.committed_batch(), minor)


def run_ivf_index_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
    compact_every: int | None = None,
) -> IncrementalIvfIndex:
    """Drain all available vector files into the index. The quantizer
    must already be trained (train() on a bootstrap corpus first). One
    slice file per micro-batch by default — availableNow otherwise folds
    every pending file into a single batch and the incremental fold
    never exercises more than one update. `compact_every` enables the
    auto-compaction policy (see IncrementalIvfIndex)."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    idx = IncrementalIvfIndex(spark, index_dir, compact_every=compact_every)
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
