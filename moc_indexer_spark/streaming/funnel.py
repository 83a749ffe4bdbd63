"""The streaming curation funnel: the END-TO-END incremental form of the
batch corpus pipeline (llm_pipeline.run_pipeline) — one driver that runs
every dedup tier's incremental maintainer against the same arrival
source and periodically PUBLISHES the identical shard/manifest/funnel
artifact the batch CLI writes.

A 100 TB training-data pipeline runs its funnel continuously: documents
arrive all day, and the expensive per-document work — quality scoring,
content hashing, MinHash signatures + LSH collision + exact-Jaccard
verification, embedding cell assignment — must be absorbed
incrementally at arrival time, not re-run from the raw corpus at every
release cut. This module composes the maintainers that already exist
for each tier (streaming/corpus.py, streaming/semdedup_stream.py) and
adds the publish step that derives the batch CLI's exact artifact from
their state.

Per micro-batch (foreachBatch body, all keyed idempotent MERGEs — a
replayed slice converges to the same state):

  1. quality gate (the SAME stateless expression block as the batch
     tier — imported, batch/stream parity by construction) -> gated
     docs MERGE into a doc store keyed by doc_id;
  2. exact-dedup keeper state: content-hash-keyed corpus table with the
     min-doc_id monotonic-version keeper (streaming/corpus.py);
  3. near-dup state: IncrementalNearDup — signatures/buckets/verified
     pairs over every GATED doc (see `publish` for why gated, not
     post-exact survivors);
  4. semantic state: IncrementalSemDeDup over the batch docs'
     embedding rows — the quantizer trains once on the first batch
     (cell count scaled to `expected_corpus_rows`) and persists, the
     Arrow assign runs per tick, vectors land cell-partitioned;
  5. a per-batch raw-count row (keyed by batch id: replay-idempotent)
     so the published funnel can report the pre-gate arrival count.

`publish(out_dir)` then derives the batch funnel EXACTLY:

  * exact survivors = the corpus table's keeper ids — equal to the
    batch tier's min-id-per-md5 keeper over all gated docs (tested).
  * near tier: the maintained pair set RESTRICTED to exact survivors,
    then the batch keeper (connected components, min-id). Equal to
    running MinHash-LSH on the survivor set because a pair's collision
    and verified Jaccard depend only on the two texts — pairs(S) =
    pairs(all) ∩ S×S — and exact duplicates carry identical shingle
    sets, so dropping them neither disconnects a component nor moves
    its minimum.
  * semantic tier: the maintainer's cell-partitioned vectors
    RESTRICTED to the near survivors, re-judged with the batch keeper
    stage (`semantic_dedup_keep`) under the PERSISTED quantizer. The
    keeper verdict depends on which other vectors are present (dup_of
    = smallest earlier same-cell vector in the INPUT SET), so the
    incremental dup table — which judges against every ingested vector
    — cannot be restricted after the fact; what IS incremental is the
    expensive half (assign pass + the cell shuffle, both absorbed at
    arrival), leaving publish one pruned scan + per-cell BLAS. The
    batch oracle is `run_pipeline(..., semantic_centroids=
    <this index's _model.json>)`: same model, same input set, same
    keeper stage — equal by construction.
  * decontamination -> DSIR -> (sampling) -> packing -> sharded write
    + manifest + funnel.json: `llm_pipeline._finish_funnel`, the SAME
    function object the batch CLI runs — zero drift possible.

Convergence is tested end-to-end (tests/test_funnel_stream.py): sliced
arrivals vs the one-shot batch CLI on the same fixture — equal
funnel.json, equal manifests, equal corpus id sets; fresh-checkpoint
replays idempotent.

No reference analog (the reference's streaming is the tx indexer);
this is the LLM-data growth area the survey's §2 extensions call for.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compaction import FoldScheduler
from .corpus import (
    IncrementalNearDup,
    NEAR_BANDS,
    NEAR_K,
    NEAR_N,
    NEAR_THRESHOLD,
    _coalesce_keepers,
    corpus_table,
    quality_gate,
)
from .semdedup_stream import IncrementalSemDeDup
from .sink import ParquetUpsertTable
from .triggers import apply_max_files_per_trigger

# delta count at which one of the funnel's own docs/corpus MoR tables
# gets its in-tick delta-tail merge (independent of `compact_every`,
# which sets the maintainers' thresholds)
TABLE_MERGE_EVERY = 16


class StreamingCurationFunnel:
    """Incrementally-maintained curation funnel state + publish."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        embeddings_path: str | None = None,
        bench_source: str = "src0",
        sample_k: int | None = None,
        semantic_threshold: float = 0.35,
        expected_corpus_rows: int | None = None,
        compact_every: int | None = None,
        track_quarantine: bool = False,
        embeddings_in_stream: bool = False,
        missing_embedding: str = "fail",
        fold_budget_sec: float | None = None,
        semantic_centroids: str | None = None,
    ):
        """`compact_every` is the maintainers' auto-compaction policy
        (minor folds / delta-tail merges, at most one unit per tick per
        maintainer — see IncrementalNearDup / IncrementalSemDeDup); the
        funnel's own docs/corpus MoR tables get the same policy
        (`self.folds`) at the fixed TABLE_MERGE_EVERY threshold.
        `fold_budget_sec` defers due folds in all three (see
        compaction.FoldScheduler), gated on the composed tick's
        elapsed. `track_quarantine` (the JSONL
        arrival mode) makes publish() report `quarantined_lines` —
        present even at zero, the batch CLI's key set.

        `embeddings_in_stream=True` is the PRODUCTION embedding shape
        (round-10): arriving docs carry their own `embedding` column and
        the semantic tier consumes it directly — no sidecar join, so a
        doc can never silently miss the tier because a sidecar row is
        absent. `missing_embedding` is the explicit contract for a null
        embedding on a gated doc: "fail" (default — raise, the strict
        daemon contract) or "skip" (the doc passes through the semantic
        tier exactly like the batch CLI's docs-without-a-sidecar-row,
        but COUNTED: a replay-idempotent per-batch count table feeds
        publish()'s `docs_missing_embedding` key, present even at zero).
        Mutually exclusive with `embeddings_path` (the fixture sidecar
        shape, matching the batch CLI's sidecar).

        `semantic_centroids` seeds the semantic maintainer with a
        PERSISTED quantizer (an IncrementalSemDeDup `_model.json`) —
        the batch CLI's flag of the same name, honored here so a
        streaming funnel can agree with an existing index instead of
        training fresh on its first batch. Refused when the state
        already holds a DIFFERENT model (stored cells depend on the
        centroids — switching models is an offline rebuild)."""
        if embeddings_in_stream and embeddings_path is not None:
            raise ValueError(
                "embeddings_in_stream and embeddings_path are mutually "
                "exclusive — arrivals either carry embeddings or a "
                "sidecar does"
            )
        if missing_embedding not in ("fail", "skip"):
            raise ValueError("missing_embedding must be 'fail' or 'skip'")
        self.spark = spark
        self.state_dir = state_dir
        self.bench_source = bench_source
        self.sample_k = sample_k
        self.semantic_threshold = semantic_threshold
        self.expected_corpus_rows = expected_corpus_rows
        self.embeddings_path = embeddings_path
        # gated doc payloads, keyed by doc_id (idempotent re-MERGE on
        # redelivery — the maintainer contract: ids stable, payloads
        # immutable). Lazy fold: these two tables are CORPUS-sized, and
        # folding every write rewrites O(corpus) rows per tick — the exact
        # wall the near-dup maintainer's 500k point measured; lazy appends
        # are O(batch) and publish (the batch job) pays the one resolve.
        self.docs_tbl = ParquetUpsertTable(
            spark, f"{state_dir}/docs", keys=["doc_id"]
        )
        # exact-dedup keeper state (min-doc_id per content hash)
        self.corpus_tbl = corpus_table(
            spark, f"{state_dir}/corpus", compact_every=64
        )
        # in-tick maintenance of these two tables is the delta-tail merge
        # (O(cadence) work, never a table rewrite); the returned name is
        # the merged table's path (the long-run soak attributes fold
        # ticks with it)
        self.folds = FoldScheduler(
            tuple(
                (t.path, lambda t=t: len(t.history()),
                 lambda t=t: t.compact_deltas())
                for t in (self.docs_tbl, self.corpus_tbl)
            ),
            TABLE_MERGE_EVERY, fold_budget_sec,
        )
        self.near = IncrementalNearDup(
            spark, f"{state_dir}/near", compact_every=compact_every,
            fold_budget_sec=fold_budget_sec,
        )
        self.embeddings_in_stream = embeddings_in_stream
        self.missing_embedding = missing_embedding
        self.sem = (
            IncrementalSemDeDup(
                spark, f"{state_dir}/sem", compact_every=compact_every,
                fold_budget_sec=fold_budget_sec,
            )
            if (embeddings_path is not None or embeddings_in_stream)
            else None
        )
        if semantic_centroids is not None:
            if self.sem is None:
                raise ValueError(
                    "semantic_centroids requires the semantic tier "
                    "(embeddings_path or embeddings_in_stream)"
                )
            if self.sem.is_trained():
                with open(semantic_centroids) as fa, open(
                    self.sem._model_path()
                ) as fb:
                    if fa.read() != fb.read():
                        raise ValueError(
                            "state already holds a DIFFERENT quantizer "
                            "— stored cells depend on the centroids; "
                            "rebuild the state dir to switch models"
                        )
            else:
                tmp = self.sem._model_path() + ".tmp"
                shutil.copyfile(semantic_centroids, tmp)
                os.replace(tmp, self.sem._model_path())
        # production ships embeddings IN the arrival stream
        # (embeddings_in_stream); the sidecar join is the fixture shape
        # (matches the batch CLI's sidecar)
        if embeddings_path is not None:
            emb = spark.read.parquet(embeddings_path)
            if "vec_id" not in emb.columns and "doc_id" in emb.columns:
                emb = emb.withColumnRenamed("doc_id", "vec_id")
            self._emb = emb.select("vec_id", "embedding")
        else:
            self._emb = None
        # replay-idempotent per-batch arrival counts (keyed by batch id)
        self.counts_tbl = ParquetUpsertTable(
            spark, f"{state_dir}/counts", keys=["batch_id"], compact_every=1
        )
        self._quarantine_dir = f"{state_dir}/quarantine"
        self.track_quarantine = track_quarantine
        # per-batch bad-line counts, keyed by batch id (replay-
        # idempotent): publish() sums ONE tiny table instead of listing
        # an ever-growing dir tree; the raw-line dirs are the audit
        # artifact, written only when a batch actually had bad lines
        self.qcounts_tbl = ParquetUpsertTable(
            spark, f"{state_dir}/qcounts", keys=["batch_id"], compact_every=1
        )
        # null-embedding DOC IDS (embeddings_in_stream +
        # missing_embedding="skip"), keyed by vec_id — idempotent under
        # BOTH same-batch replays and cross-batch redeliveries (a
        # batch-id-keyed count would double-count a doc redelivered in a
        # later batch, review finding); written only when a batch
        # actually had misses, counted once at publish
        self.mcounts_tbl = ParquetUpsertTable(
            spark, f"{state_dir}/mcounts", keys=["vec_id"], compact_every=1
        )

    def ingest_quarantine(self, bad: DataFrame, batch_id: int) -> None:
        """Persist a micro-batch's unparsable raw lines (JSONL arrival
        mode) — one overwritten `batch=N` dir per batch plus a keyed
        count row, so replays are idempotent and no input line is ever
        silently dropped (the batch CLI's quarantine contract,
        sources/files.py). Clean batches (the common case) cost one
        count action and write nothing."""
        n_bad = bad.count()
        if n_bad == 0:
            return
        # stage-and-rename, the sink's _append_delta protocol (ADVICE
        # r9): a crash mid-write must never leave a partial batch=N dir
        # visible to out-of-band audit readers. Staged as a SIBLING of
        # the quarantine dir so a stage crash leaves no garbage inside
        # the tree audit readers scan; a replayed batch swaps its dir
        # whole (remove-then-rename — a crash between the two restores
        # on the replay that caused it).
        dest = f"{self._quarantine_dir}/batch={int(batch_id)}"
        tmp = f"{self._quarantine_dir}__stage_{uuid.uuid4().hex[:8]}"
        bad.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(self._quarantine_dir, exist_ok=True)
        os.rename(tmp, dest)
        self.qcounts_tbl.upsert(
            self.spark.createDataFrame(
                [(int(batch_id), int(n_bad))], "batch_id long, n_bad long"
            )
        )

    # -- per-tick maintenance -------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: fold one arrival micro-batch into every
        tier's state. Each step is a keyed idempotent MERGE (or the
        semdedup index's committed-batch protocol), so crash replays of
        the same slice converge."""
        tick_start = time.perf_counter()
        if batch_df.isEmpty():
            return
        n_raw = batch_df.count()
        gated_keys = quality_gate(batch_df)
        gated = batch_df.join(gated_keys.select("doc_id"), "doc_id").persist()
        try:
            if gated.isEmpty():
                # every arrival gate-rejected: record the raw count (the
                # published funnel must still report these arrivals) and
                # write NO state — an empty docs delta would make
                # docs_tbl.read() non-None and steer publish() off its
                # zero-docs branch into a 0-row artifact write (review
                # finding: the corpus re-read then fails schema
                # inference and kills a publish_every stream)
                self.counts_tbl.upsert(
                    self.spark.createDataFrame(
                        [(int(batch_id), int(n_raw))],
                        "batch_id long, n_raw long",
                    )
                )
                return
            self.docs_tbl.upsert(
                gated.select("doc_id", "text", "lang", "source")
            )
            self.corpus_tbl.upsert(_coalesce_keepers(gated_keys))
            # tick_start threads the COMPOSED tick's start into the
            # maintainers' fold budgets: a funnel-scale fold_budget_sec
            # must gate on the whole tick's elapsed, not each
            # maintainer's own slice (round-10 soak finding: a 10 s
            # budget never fired against 1-3 s per-maintainer slices
            # inside 8-12 s composed ticks)
            self.near.update(gated, batch_id, tick_start=tick_start)
            if self.sem is not None:
                ebatch = self._semantic_batch(gated, batch_id)
                if not self.sem.is_trained() and not ebatch.isEmpty():
                    self.sem.train(
                        ebatch,
                        threshold=self.semantic_threshold,
                        expected_corpus_rows=self.expected_corpus_rows,
                    )
                if self.sem.is_trained():
                    self.sem.update(ebatch, batch_id, tick_start=tick_start)
            self.counts_tbl.upsert(
                self.spark.createDataFrame(
                    [(int(batch_id), int(n_raw))],
                    "batch_id long, n_raw long",
                )
            )
            self.folds.maybe_fold_one(tick_start)
        finally:
            gated.unpersist()

    def _semantic_batch(self, gated: DataFrame, batch_id: int) -> DataFrame:
        """The micro-batch's (vec_id, embedding) rows for the semantic
        tier. In-stream mode consumes the arrivals' own `embedding`
        column under the explicit missing_embedding contract (never a
        silent skip); sidecar mode is the fixture shape — a doc without
        a sidecar row passes the tier, same as the batch CLI."""
        if not self.embeddings_in_stream:
            ids = gated.select(F.col("doc_id").alias("vec_id"))
            return self._emb.join(F.broadcast(ids), "vec_id")
        if "embedding" not in gated.columns:
            raise ValueError(
                "embeddings_in_stream=True but the arrival batch has no "
                "'embedding' column"
            )
        ebatch = gated.select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        missing = ebatch.filter(F.col("embedding").isNull())
        n_missing = missing.count()
        if n_missing:
            if self.missing_embedding == "fail":
                raise ValueError(
                    f"batch {batch_id}: {n_missing} gated doc(s) arrived "
                    "with a null embedding (missing_embedding='fail'); "
                    "pass missing_embedding='skip' to let them bypass "
                    "the semantic tier, counted in the published funnel"
                )
            self.mcounts_tbl.upsert(
                missing.select(
                    "vec_id", F.lit(int(batch_id)).alias("batch_id")
                )
            )
        return ebatch.filter(F.col("embedding").isNotNull())

    # -- publish ---------------------------------------------------------------

    def publish(
        self,
        out_dir: str,
        compact: bool = True,
        timings: dict | None = None,
    ) -> dict:
        """Derive the batch CLI's exact artifact (shards + manifest +
        funnel.json) from the maintained state — a pure function of
        state, so re-publishing is idempotent and a publish at any tick
        equals the batch CLI over the docs ingested so far.

        `compact=True` (default) runs every maintainer's FULL fold after
        the artifact cut: publish is already the O(corpus) release-
        cadence batch job, so it is the natural MAJOR-compaction point —
        it re-bases the in-tick minor folds, whose cost is O(data since
        the last major). Without a periodic major, a forever-running
        funnel's minors stay bounded per-dir-count but the merged tail
        they rewrite grows with time since the last base.

        `timings` (round 10 observability): pass a dict to receive
        per-phase wall seconds — which tier dominates a release cut is
        a measured number, not a guess. Keys: `counts` (doc-store read
        + raw/quarantine/miss sums + the quality-gate count), `exact`
        (keeper join + count), `near` (pair restriction + connected
        components + anti-join + count), `semantic` (pruned vector scan
        + per-cell keeper + anti-join + count), `finish` (the shared
        decontamination→DSIR→pack→shard→manifest tail), `major_compact`
        (the post-cut full folds when compact=True; absent with
        compact=False). Phase boundaries sit on the funnel counts'
        actions, so each phase's Spark work is actually executed inside
        its bracket; the keys sum to the publish wall time."""
        import time as _time

        from ..llm_pipeline import _finish_funnel
        from ..operators.dedup import dedup_clusters
        from ..operators.similarity import semantic_dedup_keep

        def _mark(key: str, t0: float) -> float:
            now = _time.perf_counter()
            if timings is not None:
                timings[key] = round(now - t0, 3)
            return now

        spark = self.spark
        _t = _time.perf_counter()
        docs = self.docs_tbl.read()
        counts = self.counts_tbl.read()
        funnel: dict = {
            "raw": (
                0 if counts is None
                else int(counts.agg(F.sum("n_raw")).collect()[0][0])
            )
        }
        if self.track_quarantine:
            q = self.qcounts_tbl.read()
            funnel["quarantined_lines"] = (
                0 if q is None
                else int(q.agg(F.sum("n_bad")).collect()[0][0])
            )
        if self.embeddings_in_stream:
            m = self.mcounts_tbl.read()
            funnel["docs_missing_embedding"] = (
                0 if m is None else int(m.count())
            )
        if docs is None or docs.isEmpty():
            # docs empty (not just None): defense for a state dir whose
            # docs table was created by a pre-round-10 empty-gated
            # upsert — the zero-docs artifact branch below is correct
            # for both shapes
            if (
                docs is None
                and counts is None
                and funnel.get("quarantined_lines", 0) == 0
            ):
                raise ValueError("publish() before any batch arrived")
            # quarantine-only ingest (every arriving line malformed) or
            # every doc gate-rejected: nothing to cut — report the
            # counts instead of failing the stream, so later valid
            # arrivals keep flowing. The dict carries the FULL key set
            # this funnel's configuration would publish (zeros), and a
            # funnel.json lands in out_dir (ADVICE r9): a consumer
            # polling out_dir after a successful publish must see a
            # fresh artifact with the same schema as every other
            # publish, never a stale or absent file with no signal.
            funnel["after_quality_gate"] = 0
            funnel["after_exact_dedup"] = 0
            funnel["after_near_dedup"] = 0
            funnel["near_dedup_params"] = {
                "method": "minhash", "n": NEAR_N, "k": NEAR_K,
                "bands": NEAR_BANDS, "threshold": NEAR_THRESHOLD,
            }
            if self.sem is not None and self.sem.is_trained():
                funnel["after_semantic_dedup"] = 0
            if self.bench_source:
                funnel["after_decontamination"] = 0
            if self.sample_k is not None:
                funnel["after_sampling"] = 0
            funnel["final_docs"] = 0
            os.makedirs(out_dir, exist_ok=True)
            with open(f"{out_dir}/funnel.json", "w") as fh:
                json.dump(funnel, fh, indent=2, sort_keys=True)
            return funnel
        funnel["after_quality_gate"] = docs.count()
        caches: list[DataFrame] = []
        try:
            _t = _mark("counts", _t)
            keep_e = self.corpus_tbl.read().select("doc_id")
            deduped = docs.join(keep_e, "doc_id").persist()
            caches.append(deduped)
            funnel["after_exact_dedup"] = deduped.count()
            _t = _mark("exact", _t)

            pairs = self.near.pairs()
            if pairs is not None:
                # restrict the gated-corpus pair set to the exact
                # survivors (= batch pairs over the survivor set, see
                # module docstring), then the batch keeper policy
                pr = pairs.join(
                    keep_e.withColumnRenamed("doc_id", "doc_i"), "doc_i"
                ).join(
                    keep_e.withColumnRenamed("doc_id", "doc_j"), "doc_j"
                )
                clusters = dedup_clusters(pr)
                # lineage cut, exactly as the batch tier does it (see
                # run_pipeline's localCheckpoint note)
                drops = clusters.filter(
                    F.col("doc_id") != F.col("cluster_id")
                ).select("doc_id").localCheckpoint()
                deduped = deduped.join(drops, "doc_id", "left_anti").persist()
                caches.append(deduped)
            funnel["after_near_dedup"] = deduped.count()
            funnel["near_dedup_params"] = {
                "method": "minhash", "n": NEAR_N, "k": NEAR_K,
                "bands": NEAR_BANDS, "threshold": NEAR_THRESHOLD,
            }
            _t = _mark("near", _t)

            if self.sem is not None and self.sem.is_trained():
                vecs = self.sem.vectors_df()
                if vecs is not None:
                    _, thr, rd = self.sem._model()
                    sv = vecs.join(
                        deduped.select(F.col("doc_id").alias("vec_id")),
                        "vec_id",
                    )
                    verdicts = semantic_dedup_keep(sv, thr, round_digits=rd)
                    drops = verdicts.filter(
                        F.col("dup_of").isNotNull()
                    ).select(F.col("vec_id").alias("doc_id"))
                    deduped = deduped.join(
                        drops, "doc_id", "left_anti"
                    ).persist()
                    caches.append(deduped)
                    funnel["after_semantic_dedup"] = deduped.count()
                    funnel["semantic_dedup_params"] = {
                        "threshold": thr,
                        "embeddings": (
                            "in-stream" if self.embeddings_in_stream
                            else self.embeddings_path
                        ),
                        "centroids": self.sem._model_path(),
                    }
            _t = _mark("semantic", _t)

            _finish_funnel(
                spark, deduped, funnel, out_dir,
                self.bench_source, self.sample_k, caches,
            )
            _t = _mark("finish", _t)
        finally:
            for df in caches:
                df.unpersist()
        if compact:
            # the major: full folds at release cadence (see docstring)
            self.near.compact()
            if self.sem is not None:
                self.sem.compact()
            for t in (self.docs_tbl, self.corpus_tbl, self.counts_tbl):
                t.compact()
            _mark("major_compact", _t)
        return funnel


def run_curation_funnel_available_now(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str | None = None,
    embeddings_path: str | None = None,
    bench_source: str = "src0",
    sample_k: int | None = None,
    semantic_threshold: float = 0.35,
    expected_corpus_rows: int | None = None,
    publish_every: int | None = None,
    compact_every: int | None = None,
    jsonl: bool = False,
    schema=None,
    max_files_per_trigger: int | None = 1,
    embeddings_in_stream: bool = False,
    missing_embedding: str = "fail",
    semantic_centroids: str | None = None,
) -> tuple[StreamingCurationFunnel, dict | None]:
    """Drain all available document files through the funnel maintainers
    (deterministic-replay mode; production uses a processing-time
    trigger), publishing to `out_dir` every `publish_every` batches and
    once at the end. Returns (funnel, last published funnel counts).

    `jsonl=True` reads the arrivals as line-delimited JSON text and
    parses each micro-batch with the batch CLI's exact expression block
    (sources/files.parse_jsonl_lines — PERMISSIVE, quarantine relation):
    unparsable lines land in a replay-idempotent quarantine dir and are
    counted in the published funnel, matching `run_pipeline(jsonl=True)`."""
    if jsonl:
        from ..sources.files import DOCUMENTS_SCHEMA

        if schema is None:
            schema = DOCUMENTS_SCHEMA
        reader = apply_max_files_per_trigger(
            spark.readStream, max_files_per_trigger
        )
        stream = reader.text(source_dir)
    else:
        if schema is None:
            schema = spark.read.parquet(source_dir).schema
        reader = spark.readStream.schema(schema)
        reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
        stream = reader.parquet(source_dir)
    funnel = StreamingCurationFunnel(
        spark, state_dir,
        embeddings_path=embeddings_path,
        bench_source=bench_source,
        sample_k=sample_k,
        semantic_threshold=semantic_threshold,
        expected_corpus_rows=expected_corpus_rows,
        compact_every=compact_every,
        track_quarantine=jsonl,
        embeddings_in_stream=embeddings_in_stream,
        missing_embedding=missing_embedding,
        semantic_centroids=semantic_centroids,
    )
    state = {"published": None, "ticks": 0}

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if jsonl:
            from ..sources.files import parse_jsonl_lines

            good, bad = parse_jsonl_lines(batch_df, schema)
            funnel.ingest_quarantine(bad, batch_id)
            batch_df = good
        funnel.process_batch(batch_df, batch_id)
        state["ticks"] += 1
        # `publish_every` falsy (None or 0) disables periodic publish —
        # 0 is user-reachable via the CLI flag and must not divide
        if (
            publish_every
            and out_dir is not None
            and state["ticks"] % publish_every == 0
        ):
            state["published"] = funnel.publish(out_dir)

    (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if out_dir is not None:
        state["published"] = funnel.publish(out_dir)
    return funnel, state["published"]
