"""Streaming SemDeDup maintainer (streaming/semdedup_stream.py): the
incremental state must converge to the batch scaled-SemDeDup answer
under the index's own quantizer — for any slicing, any slice order, and
under replay — and late smaller ids must RETRO-INVALIDATE stale dup
rows (the property that forces per-touched-cell recomputation instead of
pure appends). The vector state is the flat-batch + cell-partitioned-fold
layout, so the per-update read must prune to the touched cells."""

import pytest
from pyspark.sql import functions as F

from moc_indexer_spark.streaming.semdedup_stream import (
    IncrementalSemDeDup,
    run_semdedup_stream_available_now,
)
from moc_indexer_spark.tables import table

THRESHOLD = 0.35


def _rows(df):
    return sorted((r.vec_id, r.cell, r.dup_of) for r in df.collect())


def _vec_rows(idx):
    return sorted(
        (r.vec_id, r.cell, tuple(r.v)) for r in idx.vectors_df().collect()
    )


def _mk_index(spark, path, emb):
    idx = IncrementalSemDeDup(spark, path)
    idx.train(emb, threshold=THRESHOLD)
    return idx


def test_stream_semdedup_equals_batch(spark, sf_dir, tmp_path):
    """Three arrival slices through the availableNow runner == the batch
    operator over the full corpus with the same centroids."""
    emb = table(spark, sf_dir, "embeddings")
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    want = _rows(idx.batch_reference(emb))

    src = str(tmp_path / "arrivals")
    for i, (lo, hi) in enumerate([(0, 150), (150, 300), (300, 10**9)]):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        run_semdedup_stream_available_now(
            spark, src + "/*", str(tmp_path / "idx"),
            str(tmp_path / "ckpt"), schema=emb.schema,
        )
    assert _rows(idx.duplicates()) == want
    # contract: one row per vector
    assert idx.duplicates().count() == emb.count()


def test_semdedup_stream_slicing_and_order_free(spark, sf_dir, tmp_path):
    """A reversed 2-slice arrival and a single-batch arrival both land on
    the identical state."""
    emb = table(spark, sf_dir, "embeddings").limit(200)

    one = _mk_index(spark, str(tmp_path / "one"), emb)
    one.update(emb, 0)
    want = _rows(one.duplicates())
    assert want == _rows(one.batch_reference(emb))

    rev = IncrementalSemDeDup(spark, str(tmp_path / "rev"))
    rev.train(emb, threshold=THRESHOLD)
    hi = emb.filter(F.col("vec_id") >= 100)
    lo = emb.filter(F.col("vec_id") < 100)
    rev.update(hi, 0)   # larger ids FIRST
    rev.update(lo, 1)   # smaller ids arrive late
    assert _rows(rev.duplicates()) == want


def test_semdedup_stream_replay_and_redelivery_are_noops(
    spark, sf_dir, tmp_path
):
    """Replays of a committed batch id are gated out; a LATER batch
    redelivering old ids (at-least-once delivery, a NEW batch id — the
    gate cannot catch it) is dropped by the cell-local anti-join, so
    neither the dup rows nor the stored vectors move."""
    emb = table(spark, sf_dir, "embeddings").limit(150)
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    first = emb.filter(F.col("vec_id") < 75)
    idx.update(first, 0)
    before = _rows(idx.duplicates())
    idx.update(first, 0)  # replayed batch id -> commit-gate no-op
    assert _rows(idx.duplicates()) == before
    idx.update(emb, 1)    # redelivery of old ids plus the rest
    assert _rows(idx.duplicates()) == _rows(idx.batch_reference(emb))
    assert idx.vectors_df().count() == 150  # no duplicate state rows

    vecs_before = _vec_rows(idx)
    dups_before = _rows(idx.duplicates())
    idx.update(first, 2)  # fully-redelivered batch under a fresh id
    assert _vec_rows(idx) == vecs_before
    assert _rows(idx.duplicates()) == dups_before


def test_semdedup_late_small_id_retro_invalidates(spark, sf_dir, tmp_path):
    """The defining incremental case: vector B (dup of A, id_A < id_B)
    arrives BEFORE A. On arrival B is a keeper (nothing earlier in its
    cell); when A lands, B's row must flip to dup_of=A."""
    emb = table(spark, sf_dir, "embeddings")
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    # find a true dup pair under this quantizer from the batch reference
    ref = idx.batch_reference(emb)
    pair = ref.filter(F.col("dup_of").isNotNull()).orderBy(
        "vec_id").limit(1).collect()[0]
    b_id, a_id = pair.vec_id, pair.dup_of
    assert a_id < b_id

    late = IncrementalSemDeDup(spark, str(tmp_path / "late"))
    late.train(emb, threshold=THRESHOLD)
    rest = emb.filter(F.col("vec_id") != a_id)
    late.update(rest, 0)
    snap = {r.vec_id: r.dup_of for r in late.duplicates().collect()}
    assert snap[b_id] != a_id  # A hasn't arrived; B can't point at it
    late.update(emb.filter(F.col("vec_id") == a_id), 1)  # A arrives late
    snap2 = {r.vec_id: r.dup_of for r in late.duplicates().collect()}
    assert snap2[b_id] == a_id
    # and the full state equals the batch answer over everything
    assert _rows(late.duplicates()) == _rows(ref)


def test_semdedup_update_read_prunes_to_touched_cells(
    spark, sf_dir, tmp_path
):
    """The scale property the layout exists for: after compaction (the
    maintained-index steady state) the fold is cell-partitioned, so a
    read filtered to one cell PRUNES partition directories; the small
    post-fold tail batches push the cell predicate to their scans."""
    emb = table(spark, sf_dir, "embeddings")
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    idx.update(emb.filter(F.col("vec_id") < 400), 0)
    idx.compact()
    seen = idx.vectors_df()
    one_cell = [r[0] for r in seen.select("cell").distinct().limit(1).collect()]
    pruned = seen.filter(F.col("cell").isin(one_cell))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    n_all = seen.count()
    assert pruned.count() < n_all  # the filter actually excludes cells
    # a post-fold flat tail batch unions in and pushes the predicate
    idx.update(emb.filter(F.col("vec_id") >= 400), idx.committed_batch() + 1)
    mixed = idx.vectors_df().filter(F.col("cell").isin(one_cell))
    mixed_plan = mixed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in mixed_plan or "PartitionFilters" in mixed_plan


def test_semdedup_compact_preserves_state(spark, sf_dir, tmp_path):
    emb = table(spark, sf_dir, "embeddings").limit(200)
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    for i, (lo, hi) in enumerate([(0, 80), (80, 160), (160, 10**9)]):
        idx.update(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i
        )
    dups_before = _rows(idx.duplicates())
    vecs_before = _vec_rows(idx)
    folded = idx.compact()
    assert folded >= 2
    assert _rows(idx.duplicates()) == dups_before
    assert _vec_rows(idx) == vecs_before
    # maintenance composes with further updates
    extra = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    ).limit(20)
    idx.update(extra, idx.committed_batch() + 1)
    assert idx.vectors_df().count() == 220


def test_semdedup_train_refusal_and_empty_guard(spark, sf_dir, tmp_path):
    emb = table(spark, sf_dir, "embeddings").limit(50)
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    with pytest.raises(ValueError, match="already trained"):
        idx.train(emb)
    untrained = IncrementalSemDeDup(spark, str(tmp_path / "u"))
    with pytest.raises(ValueError, match="train"):
        untrained.update(emb, 0)
    with pytest.raises(ValueError, match="empty"):
        IncrementalSemDeDup(spark, str(tmp_path / "e")).train(
            emb.filter(F.lit(False))
        )


def test_semdedup_compact_detects_changed_payload_redelivery(
    spark, sf_dir, tmp_path
):
    """Same tripwire as the IVF maintainers: a changed-payload
    redelivery (different cell -> escapes the pruned anti-join) must
    fail loudly at compact() time, not silently poison the keeper
    recompute."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").limit(100)
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)

    C, _, _ = idx._model()
    rows = emb.orderBy("vec_id").limit(50).collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    cells = np.argmax(
        (X / np.linalg.norm(X, axis=1, keepdims=True)) @ np.array(C).T, axis=1
    )
    j = int(np.argmax(cells != cells[0]))
    assert cells[j] != cells[0]

    schema = "vec_id long, embedding array<double>"
    a = [float(x) for x in X[0]]
    b = [float(x) for x in X[j]]
    idx.update(spark.createDataFrame([(7, a), (8, b)], schema), 0)
    idx.update(spark.createDataFrame([(7, b)], schema), 1)
    with pytest.raises(ValueError, match="vec_id=7"):
        idx.compact()


def test_semdedup_auto_compaction_policy_bounds_state(
    spark, sf_dir, tmp_path
):
    """The policy folds at most ONE unit per update (vectors fold or dup
    MoR compaction, round-robin) and keeps both accretion counters
    bounded, with duplicates() identical to the bare twin's."""
    emb = table(spark, sf_dir, "embeddings").limit(120)
    bare = _mk_index(spark, str(tmp_path / "bare"), emb)
    auto = IncrementalSemDeDup(
        spark, str(tmp_path / "auto"), compact_every=3
    )
    auto.train(emb, threshold=THRESHOLD)
    slices = [(0, 20), (20, 40), (40, 60), (60, 80), (80, 100), (100, 10**9)]
    folded_units = set()
    for i, (lo, hi) in enumerate(slices):
        s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        bare.update(s, i)
        before_v = len(auto.vectors.batches())
        before_d = len(auto.dups.history())
        auto.update(s, i)
        after_v = len(auto.vectors.batches())
        after_d = len(auto.dups.history())
        if after_v < before_v + 1:
            folded_units.add("vectors")
        if after_d < before_d + 1:
            folded_units.add("dups")
        # budget: never BOTH units folded by one update
        assert not (after_v < before_v + 1 and after_d < before_d + 1)
        assert after_v <= 4  # threshold + at most one waiting overshoot
    assert folded_units == {"vectors", "dups"}  # round-robin reached both
    assert _rows(auto.duplicates()) == _rows(bare.duplicates())
    assert _vec_rows(auto) == _vec_rows(bare)


def test_semdedup_fold_id_reuse_invalidates_cached_relations(
    spark, sf_dir, tmp_path
):
    """Regression (round 8): same fold-id-reuse alias as the IVF
    maintainers (see test_ivf_fold_id_reuse_invalidates_cached_relations)
    — compact_every=2 folds with a single-flat-batch tail, whose
    pre-read caches the `(N,)` relation the fold then rewrites. The
    update after each fold read deleted files before the fold cleared
    the cache."""
    emb = table(spark, sf_dir, "embeddings").limit(120)
    bare = _mk_index(spark, str(tmp_path / "bare"), emb)
    auto = IncrementalSemDeDup(spark, str(tmp_path / "auto"),
                               compact_every=2)
    auto.train(emb, threshold=THRESHOLD)
    slices = [(0, 20), (20, 40), (40, 60), (60, 80), (80, 10**9)]
    for i, (lo, hi) in enumerate(slices):
        s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        bare.update(s, i)
        auto.update(s, i)  # crashed here pre-fix (stale file listing)
    assert _rows(auto.duplicates()) == _rows(bare.duplicates())
    assert _vec_rows(auto) == _vec_rows(bare)

def test_semdedup_minor_fold_is_tiered_and_crash_safe(spark, sf_dir, tmp_path):
    """Round 9: the in-tick policy fold is MINOR — it merges only the
    flat tail since the cell-partitioned base into ONE FLAT file (no new
    partitioned level: levels read-amplify, see compact()), the
    base stays in place — and a crashed minor swap recovers WITHOUT
    sweeping the base into trash (the min_batch bound in the marker)."""
    import os
    import shutil

    from moc_indexer_spark.streaming.compaction import _FOLD_MARKER

    def _is_fold(b):
        d = f"{idx.vectors.path}/batch={b}"
        return any(f.startswith("cell=") for f in os.listdir(d))

    emb = table(spark, sf_dir, "embeddings").limit(200)
    bare = _mk_index(spark, str(tmp_path / "bare"), emb)
    idx = _mk_index(spark, str(tmp_path / "idx"), emb)
    slices = [(0, 40), (40, 80), (80, 120), (120, 160), (160, 10**9)]
    for i, (lo, hi) in enumerate(slices[:3]):
        s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        idx.update(s, i)
        bare.update(s, i)
    # the base: full fold of batches 0..2 (cell-partitioned)
    idx.vectors.fold(idx.committed_batch())
    assert [b for b in idx.vectors.batches() if _is_fold(b)] == [2]
    for i, (lo, hi) in enumerate(slices[3:], start=3):
        s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        idx.update(s, i)
        bare.update(s, i)
    # MINOR fold: tail (batches 3,4) merges to ONE FLAT dir at batch=4;
    # the base must stay the only cell-partitioned fold
    folded = idx.vectors.fold(idx.committed_batch(), minor=True)
    assert folded >= 1
    batches = idx.vectors.batches()
    assert batches == [2, 4]
    assert [b for b in batches if _is_fold(b)] == [2]
    assert _rows(idx.duplicates()) == _rows(bare.duplicates())
    assert _vec_rows(idx) == _vec_rows(bare)

    # crashed MINOR swap: reconstruct tmp (complete, marker "2 4") +
    # trash, with the base (batch=2) still installed — recovery must
    # complete the swap at the RECORDED range and leave the base alone
    base = idx.vectors.path
    shutil.copytree(f"{base}/batch=4", f"{base}__fold_tmp")
    with open(f"{base}__fold_tmp/{_FOLD_MARKER}", "w") as fh:
        fh.write("2 4")
    shutil.move(f"{base}/batch=4", f"{base}__fold_trash/batch=4")
    idx.vectors._cache.clear()
    folded = idx.vectors.fold(idx.committed_batch(), minor=True)
    assert folded >= 1  # the recovery signal
    batches = idx.vectors.batches()
    assert batches == [2, 4]
    assert [b for b in batches if _is_fold(b)] == [2]
    assert not os.path.isdir(f"{base}__fold_trash")
    assert _rows(idx.duplicates()) == _rows(bare.duplicates())
    assert _vec_rows(idx) == _vec_rows(bare)
