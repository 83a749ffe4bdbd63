"""Streaming corpus ingestion: the LLM-data cleaning pipeline under
Structured Streaming — documents arrive as files, are quality-gated and
exact-deduped INCREMENTALLY, and land in a keyed corpus table.

This is the streaming form of the batch `training_corpus_filter` tiers
(plans/llm_registry.py): the quality gate is the same stateless expression
block (batch/stream parity by construction), and exact dedup becomes a
keyed MERGE into the corpus table — the arrival-order-independent keeper
rule (min doc_id per content hash) is enforced with the sink's monotonic
version guard (T8, moc_balances.py:127-136 analog), so replays and late
files converge to the same corpus.

At 100 TB: the gate is map-only (scan-side filter); the only shuffle is
the per-batch content-hash dedup; the MERGE key (md5) is uniform so the
sink partitioning never skews. State lives in the table, not the stream
(no unbounded dropDuplicates state) — the same design the reference uses
for idempotent tx upserts (scan_raw_txs.py:51-54).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .sink import ParquetUpsertTable

# the SAME thresholds as the batch training_corpus_filter — imported, not
# re-declared, so the stream cannot drift from the tier it claims to
# converge to (a local 5/0.35 copy once did exactly that: docs admitted
# here were rejected by the batch filter)
from ..plans.llm_registry import MIN_TOKENS, QUALITY_GATE as MIN_QUALITY
from .triggers import apply_max_files_per_trigger


def quality_gate(docs: DataFrame) -> DataFrame:
    """Stateless scoring + floor — identical expressions batch or stream
    (the training_corpus_filter quality tier)."""
    s = docs.select(
        "doc_id",
        "text",
        "source",
        F.md5("text").alias("content_hash"),
        T.token_count().alias("tc"),
        T.distinct_token_count().alias("dt"),
        T.stopword_count().alias("sw"),
    ).filter(F.col("tc") >= MIN_TOKENS)
    score = (
        (F.col("sw").cast("double") / F.col("tc").cast("double")) * 0.3
        + (F.col("dt").cast("double") / F.col("tc").cast("double")) * 0.4
        + F.least(F.col("tc").cast("double") / 100.0, F.lit(1.0)) * 0.3
    )
    return s.select(
        "doc_id",
        "content_hash",
        "source",
        F.col("tc").cast("bigint").alias("token_count"),
        score.alias("quality_score"),
    ).filter(F.col("quality_score") >= MIN_QUALITY)


def corpus_table(
    spark: SparkSession, path: str, compact_every: int = 1
) -> ParquetUpsertTable:
    """Corpus keyed by content hash; version = -doc_id so the MERGE's
    monotonic guard keeps the SMALLEST doc_id as keeper regardless of
    arrival order (idempotent under replay). The default folds after
    every write; the streaming funnel passes a lazy cadence for the
    3 s-tick shape (O(batch) appends; the resolution ordering applies
    the same neg_id guard at read)."""
    return ParquetUpsertTable(
        spark, path, keys=["content_hash"], version_col="neg_id",
        compact_every=compact_every,
    )


def _coalesce_keepers(gated_keys: DataFrame) -> DataFrame:
    # in-batch coalescing (T7 analog): one row per content hash, min doc_id
    g = gated_keys.withColumn("neg_id", -F.col("doc_id"))
    w = Window.partitionBy("content_hash").orderBy(F.asc("doc_id"))
    return (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _prepare(batch: DataFrame) -> DataFrame:
    return _coalesce_keepers(quality_gate(batch))


def run_corpus_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
) -> ParquetUpsertTable:
    """Drain all available document files into the corpus table (the
    deterministic-replay mode; production uses a processing-time trigger).

    max_files_per_trigger defaults to 1 so each slice FILE is one
    micro-batch: without it, availableNow folds every pending file into
    a single batch and the incremental paths these runners exist to
    exercise (cross-batch dedup, retro-invalidation) never run — the
    round-6 probe measured exactly one batch for a two-file source."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    tbl = corpus_table(spark, out_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tbl.upsert(_prepare(batch_df))

    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return tbl


def corpus_batch_reference(docs: DataFrame) -> DataFrame:
    """The batch-mode answer the stream must converge to: quality gate +
    min-doc_id keeper per content hash (order-free formulation)."""
    gated = quality_gate(docs)
    w = Window.partitionBy("content_hash").orderBy(F.asc("doc_id"))
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("neg_id", -F.col("doc_id"))
    )


# --- incremental near-duplicate detection (MinHash-LSH under streaming) -----

NEAR_N = 3
NEAR_K = 32
NEAR_BANDS = 16
NEAR_THRESHOLD = 0.8


def _doc_features(batch: DataFrame) -> DataFrame:
    """(doc_id, sh, sig): distinct shingle hashes + MinHash signature —
    the same codegen'd aggregate formulation as the batch operator
    (functions/text.py minhash_agg_exprs), so stream and batch see
    identical signatures."""
    toks = batch.select(
        F.col("doc_id"), T.tokens("text").alias("t")
    ).filter(F.size("t") >= NEAR_N)
    ex = toks.select(
        F.col("doc_id"), F.explode(T.shingles(F.col("t"), NEAR_N)).alias("s")
    ).select("doc_id", F.xxhash64("s").alias("h"))
    return ex.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("h")).alias("sh"),
        F.array(*T.minhash_agg_exprs("h", NEAR_K)).alias("sig"),
    )


def _band_rows(feats: DataFrame) -> DataFrame:
    r = NEAR_K // NEAR_BANDS
    return feats.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(NEAR_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"), b * r + 1, r))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


# Forced-broadcast safety bound (ADVICE r8): the second `_verify_pairs`
# join broadcasts candidate pairs WITH one shingle-hash array attached
# (~4 KB/row at the corpus's ~300-shingle docs), so a hot LSH bucket — a
# heavily templated batch colliding with many stored docs — could push a
# forced broadcast past the driver/broadcast table cap and fail the job
# hard where a shuffle would have completed. Above this many candidate
# pairs (~400 MB attached-array payload) fall back to unhinted joins and
# let AQE plan from the materialized size.
VERIFY_BROADCAST_MAX_CANDS = 100_000


def _verify_pairs(
    cands: DataFrame, feats_all: DataFrame, hint_broadcast: bool = True
) -> DataFrame:
    """Exact-Jaccard verify over distinct candidate pairs, using the
    stored shingle-hash sets; same threshold semantics as the batch
    operator (hash-set counts equal string-set counts). `cands` is
    micro-batch-derived (bucket collisions of one tick) — broadcast it so
    the corpus-sized feature table is scanned map-only, never shuffled —
    unless the caller measured a pathological candidate volume
    (hint_broadcast=False, see VERIFY_BROADCAST_MAX_CANDS)."""
    bhint = F.broadcast if hint_broadcast else (lambda df: df)
    si = feats_all.select(F.col("doc_id").alias("doc_i"), F.col("sh").alias("sh_i"))
    sj = feats_all.select(F.col("doc_id").alias("doc_j"), F.col("sh").alias("sh_j"))
    # hint BOTH joins: the hint does not propagate through the first join,
    # and the intermediate (cands + sh_i) is still candidate-bounded
    one = bhint(cands).join(si, "doc_i")
    v = (
        bhint(one).join(sj, "doc_j")
        .withColumn("inter", F.size(F.array_intersect("sh_i", "sh_j")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_i") + F.size("sh_j") - F.col("inter")).cast("double"),
        )
    )
    return v.filter(F.col("jaccard") >= NEAR_THRESHOLD).select(
        "doc_i", "doc_j", "jaccard"
    )


class IncrementalNearDup:
    """Parquet-backed MinHash-LSH near-dup state maintained one
    micro-batch at a time — the reusable core of
    `run_near_dedup_stream_available_now`, also composed by the
    streaming curation funnel (streaming/funnel.py). Converges to
    `minhash_lsh_pairs(all ingested docs, n=NEAR_N, threshold=
    NEAR_THRESHOLD)` (tested), and because a pair's collision + verify
    depend only on the two texts, restricting the maintained pair set
    to any doc subset S equals running the batch operator on S — the
    property the funnel's publish step relies on.

    STATE LAYOUT (round 9). The original form kept bands/feats/pairs in
    keyed copy-on-write upsert tables; the 500k-doc point measured the
    wall that implies — 0.12 s of map-only state READS per tick against
    5.35 s of WRITE-BACK, each upsert rewriting O(corpus) rows to add a
    batch-bounded delta (SCALE_CURVE.json neardedup at_500k, pre-fix).
    Bands and feats rows are append-only by construction (a doc's
    signature is immutable and rows are only added for ids never seen
    before), so they now accrete as flat `batch=N` single-file dirs in
    two compaction.BatchLogs — the BM25/IVF/semdedup protocol: O(batch)
    writes, replays resolved by the committed-batch rule, folds (tiered:
    minor in-tick, full out-of-band) bound the file count. Bands/feats
    have no pruning dimension (LSH buckets are uniform hash scatter), so
    every fold is a flat single-file merge. The FEATS log is written
    last and is the COMMIT RECORD. The pairs table keeps MERGE semantics
    (replays re-deliver the same keys) but is MoR — O(batch) delta
    appends; readers pay the resolve until compaction.

    Single-writer, like every maintainer here. `compact_every` and
    `fold_budget_sec` drive `self.folds`, the shared in-tick fold policy
    (compaction.FoldScheduler: at most one unit folded per update),
    minor folds only — an in-tick fold reads O(cadence) rows regardless
    of corpus size."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        compact_every: int | None = None,
        fold_budget_sec: float | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir.rstrip("/") or state_dir
        os.makedirs(self.state_dir, exist_ok=True)
        from .compaction import BatchLog, FoldScheduler

        self.logs = {
            name: BatchLog(spark, f"{self.state_dir}/{name}")
            for name in ("bands", "feats")
        }
        self.folds = FoldScheduler(
            tuple(
                (name,
                 lambda log=log: log.tail_count(self.committed_batch()),
                 lambda log=log: log.fold(self.committed_batch(), minor=True))
                for name, log in self.logs.items()
            ) + (
                # in-tick pairs maintenance is the delta-tail merge
                # (O(cadence)); the full fold is compact()'s job
                ("pairs", lambda: len(self.pairs_tbl.history()),
                 lambda: self.pairs_tbl.compact_deltas()),
            ),
            compact_every, fold_budget_sec,
        )
        self.pairs_tbl = ParquetUpsertTable(
            spark, f"{self.state_dir}/pairs", keys=["doc_i", "doc_j"],
            compact_every=(4 * compact_every) if compact_every else 64,
        )

    # -- state ----------------------------------------------------------------

    def committed_batch(self) -> int:
        """Feats is written last => its newest committed dir is the
        commit record; a bands dir beyond it is an orphan a replay will
        overwrite."""
        return self.logs["feats"].last()

    def pairs(self) -> DataFrame | None:
        """Confirmed (doc_i, doc_j, jaccard) over all ingested docs."""
        p = self.pairs_tbl.read()
        return None if p is None else p.select("doc_i", "doc_j", "jaccard")

    def update(
        self,
        batch_df: DataFrame,
        batch_id: int | None = None,
        tick_start: float | None = None,
    ) -> None:
        """Fold one micro-batch of documents (doc_id, text, ...) in.
        `batch_id` is the stream's epoch (foreachBatch); None (direct
        calls) continues from the committed batch. Replays of a
        committed id are no-ops; a crash anywhere replays into the
        identical state (pairs MERge re-converges, bands/feats dirs are
        idempotent overwrites, feats commits last).

        `tick_start` (round 10): a COMPOSED driver (the funnel) passes
        its own tick's perf_counter start so the fold budget gates on
        the whole tick's elapsed, not this maintainer's slice of it —
        without this a funnel-scale budget never fires (each
        maintainer's own slice is seconds while the composed tick is
        the operator's envelope). Standalone callers leave it None."""
        if tick_start is None:
            tick_start = time.perf_counter()
        if batch_df.isEmpty():
            return
        committed = self.committed_batch()
        if batch_id is None:
            batch_id = committed + 1
        if batch_id <= committed:
            return
        feats = _doc_features(batch_df)
        # one action per batch over the expensive aggregate: materialize
        feats.persist()
        new = feats
        cand = None
        try:
            stored_feats = self.logs["feats"].read(committed)
            if stored_feats is not None:
                # new-id detection with the state side MAP-ONLY: scan
                # stored ids against the broadcast batch ids (their
                # intersection is batch-bounded), then broadcast-anti the
                # batch against that intersection. A redelivered id
                # carries the same payload (the maintainer contract) and
                # was fully paired when first committed, so it is dropped
                # entirely.
                redelivered = stored_feats.select("doc_id").join(
                    F.broadcast(feats.select("doc_id")), "doc_id"
                )
                new = feats.join(
                    F.broadcast(redelivered), "doc_id", "left_anti"
                ).persist()
                if new.isEmpty():
                    return  # fully-redelivered batch: nothing to add
            new_bands = _band_rows(new)
            stored_bands = self.logs["bands"].read(committed)
            # cross-batch candidates: new docs vs the persisted index
            if stored_bands is not None:
                # broadcast the BATCH side explicitly: the stored index is
                # the corpus-sized relation, and a planner misestimate on
                # a fresh (statistics-free) state read could sort-merge it
                # — shuffling O(corpus x bands) rows per micro-batch. With
                # the batch side broadcast, the state side is ONE map-only
                # scan per tick — the honest LSH bound (bucket probes are
                # uniform hash scatter, so there is no cell/partition
                # analog to prune the scan the way the vector maintainers
                # do; the scan IS the floor).
                nb = F.broadcast(new_bands).alias("n")
                sb = stored_bands.alias("o")
                cand = (
                    nb.join(
                        sb,
                        (F.col("n.band") == F.col("o.band"))
                        & (F.col("n.bucket") == F.col("o.bucket"))
                        & (F.col("n.doc_id") != F.col("o.doc_id")),
                    )
                    .select(
                        F.least("n.doc_id", "o.doc_id").alias("doc_i"),
                        F.greatest("n.doc_id", "o.doc_id").alias("doc_j"),
                    )
                )
            # in-batch candidates: same-bucket grouping
            within = (
                new_bands.groupBy("band", "bucket")
                .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
                .filter(F.size("ids") >= 2)
                .select(
                    F.explode(
                        F.filter(
                            F.flatten(
                                F.transform(
                                    F.col("ids"),
                                    lambda x: F.transform(
                                        F.col("ids"),
                                        lambda y: F.struct(
                                            x.alias("doc_i"), y.alias("doc_j")
                                        ),
                                    ),
                                )
                            ),
                            lambda p: p["doc_i"] < p["doc_j"],
                        )
                    ).alias("p")
                )
                .select(F.col("p.doc_i").alias("doc_i"), F.col("p.doc_j").alias("doc_j"))
            )
            cand = within if cand is None else cand.unionByName(within)
            cand = cand.dropDuplicates(["doc_i", "doc_j"]).persist()
            # measure before hinting (one cheap action on two-long rows):
            # a hot bucket can make |cands| x shingle-arrays exceed the
            # broadcast cap — fall back to AQE-planned joins past the bound
            n_cand = cand.count()
            if stored_feats is None:
                feats_all = new.select("doc_id", "sh")
            else:
                # disjoint by construction (new was anti-joined), so the
                # state side stays a map-only scan — no dedup needed
                feats_all = new.select("doc_id", "sh").unionByName(
                    stored_feats.select("doc_id", "sh")
                )
            hits = _verify_pairs(
                cand,
                feats_all,
                hint_broadcast=n_cand <= VERIFY_BROADCAST_MAX_CANDS,
            )
            self.pairs_tbl.upsert(hits)
            # appends commit the batch: bands first, feats LAST (the
            # commit record) — a crash between them leaves an orphan
            # bands dir the replay overwrites identically
            self.logs["bands"].append(batch_id, new_bands.coalesce(1))
            self.logs["feats"].append(batch_id, new.coalesce(1))
        finally:
            feats.unpersist()
            if new is not feats:
                new.unpersist()
            if cand is not None:
                cand.unpersist()
        self.folds.maybe_fold_one(tick_start)

    # -- maintenance ------------------------------------------------------

    def compact(self) -> int:
        """Full folds of bands + feats and the pairs MoR deltas —
        OUT-OF-BAND maintenance, like the other maintainers' folds."""
        committed = self.committed_batch()
        n = sum(log.fold(committed) for log in self.logs.values())
        self.pairs_tbl.compact()
        return n


def run_near_dedup_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
    compact_every: int | None = None,
) -> ParquetUpsertTable:
    """Incremental MinHash-LSH near-dedup: documents stream in; each batch
    computes signatures ONCE, collides its band buckets against the
    persisted bucket index (docs seen in any earlier batch) and within
    itself, exact-verifies the candidates, and MERGEs the confirmed pairs.
    Returns the pairs table; state lives under `state_dir`.

    Equivalences that make this correct (and tested):
    - signatures/buckets are the identical codegen'd expressions as the
      batch operator — a (new, old) pair collides in the stream iff it
      collides in batch mode;
    - every cross-batch pair meets exactly once (new batch x stored
      index), every in-batch pair once (bucket grouping), and the pairs
      MERGE is keyed (doc_i, doc_j) — so replays and slice reorderings
      converge to the batch answer (idempotent, order-free);
    - state grows as O(docs x bands) 16-byte rows + one shingle-hash set
      per doc (the stored doc-feature table any 100 TB pipeline keeps
      anyway), accreted as O(batch) appends (see IncrementalNearDup's
      state-layout note); no unbounded executor streaming state is used.
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    idx = IncrementalNearDup(spark, state_dir, compact_every=compact_every)

    (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: idx.update(batch_df, batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return idx.pairs_tbl


# --- incremental line-level dedup (with retroactive re-cleaning) ------------

LINE_SEG_TOKENS = 8
LINE_MIN_DUP_DOCS = 2

# Forced-broadcast safety bound (ADVICE r8): the rebuild joins broadcast
# the affected-doc set and the affected docs' line-hash vocabulary. Both
# are batch-bounded in the COMMON case but not in the worst one — a
# newly-dup boilerplate line that appears in very many stored docs fans
# the retro-invalidation out to all of them. The binding payload is the
# lh vocabulary (~tens of line hashes per doc, 8 bytes each), so the cap
# is set where that broadcast stays well under 100 MB; past it fall back
# to unhinted joins and let AQE plan from real sizes instead of failing
# on the broadcast cap.
LINE_BROADCAST_MAX_AFFECTED_DOCS = 200_000


def _doc_lines(batch: DataFrame) -> DataFrame:
    """(doc_id, pos, line, lh, n_lines): fixed-token-window pseudo-lines,
    the same segmentation as the batch query (plans/llm_registry.py
    line_dedup_docs)."""
    t = T.tokens("text")
    seg = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                (F.ceil(F.size(t) / F.lit(LINE_SEG_TOKENS)) - 1).cast("int"),
            ),
            lambda i: F.array_join(
                F.slice(t, i * LINE_SEG_TOKENS + 1, LINE_SEG_TOKENS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = batch.select(F.col("doc_id"), seg.alias("__lines"))
    return base.select(
        "doc_id",
        F.size("__lines").cast("bigint").alias("n_lines"),
        F.posexplode("__lines").alias("pos", "line"),
    ).withColumn("lh", F.xxhash64("line"))


def run_line_dedup_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
) -> ParquetUpsertTable:
    """Incrementally-maintained line-dedup view: as documents stream in,
    any line reaching LINE_MIN_DUP_DOCS distinct docs becomes boilerplate
    EVERYWHERE — including documents cleaned in EARLIER batches, which are
    retroactively re-rebuilt (the materialized-view invalidation a batch
    pipeline gets for free and a streaming one must do explicitly).

    Per batch: upsert the batch's (doc, pos, line) rows into the lines
    table, find lines whose distinct-doc count crosses the threshold
    (recounted over the BATCH's lh set only — crossings cannot involve
    other lines, see the in-body argument — so state is scanned map-only,
    never re-aggregated whole), and rebuild ONLY the affected documents
    (docs containing a newly-dup line) plus the batch's own docs — never
    the whole corpus. Returns the clean docs table (doc_id, clean_text,
    n_lines, n_kept).

    State = the lines table itself (the inverted index any line-dedup
    needs) — keyed, replay-idempotent MERGEs throughout, so slice order
    and restarts converge to the batch `line_dedup` answer (tested).
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    reader = apply_max_files_per_trigger(reader, max_files_per_trigger)
    stream = reader.parquet(source_dir)
    lines_tbl = ParquetUpsertTable(
        spark, f"{state_dir}/lines", keys=["doc_id", "pos"], compact_every=1
    )
    clean_tbl = ParquetUpsertTable(
        spark, f"{state_dir}/clean", keys=["doc_id"], compact_every=1
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_lines = _doc_lines(batch_df).persist()
        affected = None
        try:
            existed_before = lines_tbl.exists()
            lines_tbl.upsert(new_lines.select("doc_id", "pos", "line", "lh", "n_lines"))
            all_lines = lines_tbl.read()
            # dup set BEFORE this batch (for retro detection), reconstructed
            # from the POST-upsert state by excluding the batch's own docs.
            # Two failure modes this kills at once:
            # - replay safety: after a crash between the lines upsert and
            #   the clean upsert, the stored table ALREADY contains this
            #   batch's rows — a pre-upsert read would absorb the batch's
            #   threshold crossings, newly_dup would come out empty, and
            #   the earlier-batch docs the crashed attempt was about to
            #   re-clean would never be rebuilt;
            # - plan staleness: a lazy plan over the PRE-upsert files
            #   dangles once the post-write fold swaps the directory
            #   (FAILED_READ_FILE when it finally evaluates).
            # Over-invalidation when a doc is re-ingested is harmless —
            # rebuilds are idempotent; under-invalidation is the bug.
            # Batch-bounded recounts (round 8): a threshold crossing needs
            # nd(lh) to CHANGE, and under the maintainer contract (a
            # redelivered doc carries the same payload) the post-upsert
            # state differs from the pre-batch state only by rows whose lh
            # is in THIS batch — so both recounts are restricted to the
            # batch's lh set. The previous form groupBy'd the ENTIRE
            # lines table twice per tick (a full-state shuffle that grows
            # with the corpus); these are map-only pushdown scans with a
            # batch-bounded shuffle output. Recompute-from-truth keeps the
            # replay argument above intact: every read is POST-upsert.
            batch_lh = new_lines.select("lh").distinct()
            relevant = all_lines.join(F.broadcast(batch_lh), "lh")
            if existed_before:
                old_dup = (
                    relevant.join(
                        F.broadcast(new_lines.select("doc_id").distinct()),
                        "doc_id",
                        "left_anti",
                    )
                    .groupBy("lh")
                    .agg(F.countDistinct("doc_id").alias("nd"))
                    .filter(F.col("nd") >= LINE_MIN_DUP_DOCS)
                    .select("lh")
                )
            else:
                old_dup = None
            dup_batch = (
                relevant.groupBy("lh")
                .agg(F.countDistinct("doc_id").alias("nd"))
                .filter(F.col("nd") >= LINE_MIN_DUP_DOCS)
                .select("lh")
            )
            # lines that JUST crossed the threshold invalidate old docs
            newly_dup = dup_batch if old_dup is None else dup_batch.join(
                old_dup, "lh", "left_anti"
            )
            affected = (
                all_lines.join(F.broadcast(newly_dup), "lh")
                .select("doc_id")
                .unionByName(new_lines.select("doc_id"))
                .distinct()
            ).persist()
            # measure before hinting (one action on single-long rows): a
            # boilerplate crossing can fan out to arbitrarily many stored
            # docs — past the bound, unhinted joins (AQE plans from the
            # materialized size); see LINE_BROADCAST_MAX_AFFECTED_DOCS
            n_affected = affected.count()
            bhint = (
                F.broadcast
                if n_affected <= LINE_BROADCAST_MAX_AFFECTED_DOCS
                else (lambda df: df)
            )
            todo = all_lines.join(bhint(affected), "doc_id")
            # the rebuild's dup test needs counts for every lh the
            # affected docs contain (old boilerplate included, not just
            # this batch's lh) — recount restricted to todo's vocabulary,
            # the affected-docs-bounded set
            dup_todo = (
                all_lines.join(
                    bhint(todo.select("lh").distinct()), "lh"
                )
                .groupBy("lh")
                .agg(F.countDistinct("doc_id").alias("nd"))
                .filter(F.col("nd") >= LINE_MIN_DUP_DOCS)
                .select("lh")
            )
            kept = todo.join(F.broadcast(dup_todo), "lh", "left_anti")
            rebuilt = kept.groupBy("doc_id").agg(
                F.first("n_lines").alias("n_lines"),
                F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda x: x["line"],
                    ),
                    " ",
                ).alias("clean_text"),
            )
            emptied = (
                todo.select("doc_id", "n_lines").distinct()
                .join(rebuilt.select("doc_id"), "doc_id", "left_anti")
                .select(
                    "doc_id",
                    F.lit("").alias("clean_text"),
                    F.col("n_lines"),
                    F.lit(0).cast("bigint").alias("n_kept"),
                )
            )
            # tokenless docs never enter the lines table but must still
            # appear in the view (batch parity: n_lines = 0)
            no_lines = (
                batch_df.select("doc_id").distinct()
                .join(new_lines.select("doc_id").distinct(), "doc_id", "left_anti")
                .select(
                    "doc_id",
                    F.lit("").alias("clean_text"),
                    F.lit(0).cast("bigint").alias("n_lines"),
                    F.lit(0).cast("bigint").alias("n_kept"),
                )
            )
            clean_tbl.upsert(
                rebuilt.select("doc_id", "clean_text", "n_lines", "n_kept")
                .unionByName(emptied)
                .unionByName(no_lines)
            )
        finally:
            new_lines.unpersist()
            if affected is not None:
                affected.unpersist()

    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return clean_tbl
