"""Streaming IVF index: stream-built state must match a batch-built
index probe-for-probe; replays and duplicate ids must be no-ops."""

from pyspark.sql import functions as F

from moc_indexer_spark.streaming.ivf_stream import (
    IncrementalIvfIndex,
    run_ivf_index_stream_available_now,
)
from moc_indexer_spark.tables import table


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in df.collect()
    )


def _queries(emb, n=5):
    return [(r.vec_id, list(r.embedding))
            for r in emb.orderBy("vec_id").limit(n).collect()]


def test_stream_ivf_equals_batch_built(spark, sf_dir, tmp_path):
    emb = table(spark, sf_dir, "embeddings")
    qs = _queries(emb)

    # batch twin: one index, all vectors in a single update
    batch_idx = IncrementalIvfIndex(spark, str(tmp_path / "batch"))
    batch_idx.train(emb)
    batch_idx.update(emb, 0)
    want = _rows(batch_idx.probe(qs))

    # streamed twin: same quantizer bootstrap, three arrival files
    src = str(tmp_path / "arrivals")
    idx = IncrementalIvfIndex(spark, str(tmp_path / "stream"))
    idx.train(emb)
    for i, (lo, hi) in enumerate([(0, 150), (150, 300), (300, 10**9)]):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        idx = run_ivf_index_stream_available_now(
            spark, src + "/*", str(tmp_path / "stream"),
            str(tmp_path / "ckpt"), schema=emb.schema,
        )
    assert idx.committed_batch() >= 0
    assert _rows(idx.probe(qs)) == want

    # cell partitions actually prune: only probed cells' dirs are read
    plan = idx.probe(qs)._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan


def test_ivf_stream_replay_and_duplicates_are_noops(spark, sf_dir, tmp_path):
    emb = table(spark, sf_dir, "embeddings").limit(100)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "idx"))
    idx.train(emb)
    first = emb.filter(F.col("vec_id") < 50)
    idx.update(first, 0)
    before = _rows(idx.probe(_queries(emb, 3)))
    # replay of the same batch id leaves the probe unchanged
    idx.update(first, 0)
    assert _rows(idx.probe(_queries(emb, 3))) == before
    # second batch re-delivers old vectors plus new
    idx.update(emb, 1)
    assert len(idx.probe(_queries(emb, 3)).collect()) > 0
    total = idx.vectors.read(idx.committed_batch()).count()
    assert total == 100  # no duplicates despite redelivery
    # retrain refusal protects stored assignments
    import pytest

    with pytest.raises(ValueError):
        idx.train(emb)


def test_ivf_stream_compaction_preserves_probes(spark, sf_dir, tmp_path):
    """compact_index folds batch partitions into one (cell partitioning
    preserved) without changing any probe result, and its recovery heals
    the post-rename crash window (shared protocol with the BM25 index)."""
    import os

    from moc_indexer_spark.streaming.ivf_stream import compact_index

    emb = table(spark, sf_dir, "embeddings").limit(120)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "idx"))
    idx.train(emb)
    for i, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 10**9)]):
        idx.update(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i
        )
    qs = _queries(emb, 3)
    want = _rows(idx.probe(qs, n_probe=16))
    removed = compact_index(idx)
    assert removed == 2
    assert _rows(idx.probe(qs, n_probe=16)) == want
    base = f"{idx.path}/vectors"
    assert [d for d in os.listdir(base) if d.startswith("batch=")] == ["batch=2"]
    # cell sub-partitioning survives the fold (probes stay pruned)
    assert any(d.startswith("cell=") for d in os.listdir(f"{base}/batch=2"))
    # the fold's DATA files must not embed the stale partition-inferred
    # `batch` column — a schema-explicit or non-Spark reader would see
    # wrong ids that Spark's partition-over-data precedence happens to mask
    fold_schema = spark.read.parquet(f"{base}/batch=2").schema.fieldNames()
    assert "batch" not in fold_schema
    # fold file count is bounded by the CELL count (one cell-keyed
    # shuffle before the write): without it each read task writes one
    # file per cell it holds and the bloat compounds fold-over-fold
    # (measured 19,659 files at 200k vectors / 160 cells before the fix)
    import glob as _glob

    n_files = len(_glob.glob(f"{base}/batch=2/cell=*/*.parquet"))
    n_cells = len(_glob.glob(f"{base}/batch=2/cell=*"))
    assert n_files <= n_cells

    # post-rename crash window: trash left behind after a completed swap
    # must only be deleted, never restored — and the cleanup SIGNALS
    # (nonzero return, round 9) so a same-process caller's relation
    # cache clears; no data moves
    os.makedirs(f"{base}__fold_trash/batch=0", exist_ok=True)
    assert compact_index(idx) == 1
    assert not os.path.isdir(f"{base}__fold_trash")
    assert [d for d in os.listdir(base) if d.startswith("batch=")] == ["batch=2"]
    assert _rows(idx.probe(qs, n_probe=16)) == want


def test_streaming_ivfpq_matches_persisted_and_brute_force(spark, sf_dir, tmp_path):
    """The streaming composed IVF+PQ index must (a) equal the
    batch-persisted index probe-for-probe when built from the same
    bootstrap (same deterministic training => same model => same cells,
    codes, scores), (b) be replay-idempotent, and (c) reproduce brute
    force in exact mode."""
    from moc_indexer_spark.operators.similarity import (
        brute_force_topk_np, build_ivfpq_index, ivfpq_probe_topk,
    )
    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfPqIndex

    emb = table(spark, sf_dir, "embeddings").limit(200)
    qs = _queries(emb, 3)

    # batch-persisted twin, same training regime
    ppath = str(tmp_path / "persisted")
    build_ivfpq_index(emb, ppath, n_cells=8)

    idx = IncrementalIvfPqIndex(spark, str(tmp_path / "stream"))
    idx.train(emb, n_cells=8)
    for i, (lo, hi) in enumerate([(0, 70), (70, 140), (140, 10**9)]):
        idx.update(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i
        )
    want = _rows(
        ivfpq_probe_topk(
            spark, ppath, qs, k=5, n_probe=4, exclude_self=True
        )
    )
    assert _rows(idx.probe(qs, k=5, n_probe=4)) == want and len(want) > 0

    # replay of an already-committed batch is a no-op
    idx.update(emb.filter(F.col("vec_id") < 70), 0)
    assert _rows(idx.probe(qs, k=5, n_probe=4)) == want

    # exact mode (full probe + exhaustive shortlist) == brute force
    bf = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in brute_force_topk_np(emb, k=5).collect()
        if r.query_id in {q for q, _ in qs}
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in idx.probe(qs, k=5, n_probe=8, refine=None).collect()
    }
    assert got == bf


def test_ivf_probe_self_exclusion_is_optional(spark, sf_dir, tmp_path):
    """External queries whose ids coincide with corpus ids must still see
    the colliding vector when exclude_self=False; the default keeps the
    self-join behavior."""
    emb = table(spark, sf_dir, "embeddings").limit(60)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "idx"))
    idx.train(emb)
    idx.update(emb, 0)
    qs = _queries(emb, 3)
    qids = {q for q, _ in qs}
    # default: a query never sees its own id among neighbors
    got_default = idx.probe(qs, k=60, n_probe=64)
    assert not [r for r in got_default.collect()
                if r.query_id == r.neighbor_id]
    # opt-out: the identical vector (same id) ranks first with sim 1.0
    got_all = idx.probe(qs, k=1, n_probe=64, exclude_self=False).collect()
    assert {r.query_id for r in got_all} == qids
    for r in got_all:
        assert r.neighbor_id == r.query_id and r.cosine_sim == 1.0


def test_ivf_full_redelivery_new_id_writes_no_empty_partition(
    spark, sf_dir, tmp_path
):
    """A batch fully redelivered under a NEW batch id must not commit an
    empty batch=N partition (its _SUCCESS would poison
    BatchLog.read's schema inference) — the guard semdedup_stream
    has always carried, transplanted to both IVF maintainers."""
    import os

    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfPqIndex

    emb = table(spark, sf_dir, "embeddings").limit(80)
    first = emb.filter(F.col("vec_id") < 40)
    for cls, name in [
        (IncrementalIvfIndex, "flat"),
        (IncrementalIvfPqIndex, "pq"),
    ]:
        idx = cls(spark, str(tmp_path / name))
        idx.train(emb)
        idx.update(first, 0)
        before = _rows(idx.probe(_queries(emb, 3)))
        idx.update(first, 1)  # full redelivery, fresh batch id
        dirs = [
            d
            for d in os.listdir(f"{idx.path}/vectors")
            if d.startswith("batch=")
        ]
        assert dirs == ["batch=0"], name
        assert idx.committed_batch() == 0, name
        assert _rows(idx.probe(_queries(emb, 3))) == before, name
        # and the state still reads cleanly (no schema poisoning)
        assert idx.vectors.read(idx.committed_batch()).count() == 40


def test_ivf_compact_detects_changed_payload_redelivery(
    spark, sf_dir, tmp_path
):
    """Contract tripwire (ADVICE r7): an id redelivered with a CHANGED
    payload lands in a different cell, escapes the cell-pruned
    anti-join, and duplicates vector state — out-of-contract, but
    compact() must surface it instead of silently corrupting probes."""
    import numpy as np
    import pytest

    from moc_indexer_spark.streaming.ivf_stream import compact_index

    emb = table(spark, sf_dir, "embeddings").limit(100)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "idx"))
    idx.train(emb)

    # pick two corpus vectors the quantizer assigns to DIFFERENT cells
    C = idx._load_centroids()
    rows = emb.orderBy("vec_id").limit(50).collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    cells = np.argmax(
        (X / np.linalg.norm(X, axis=1, keepdims=True)) @ C.T, axis=1
    )
    j = int(np.argmax(cells != cells[0]))
    assert cells[j] != cells[0]

    schema = "vec_id long, embedding array<double>"
    a = [float(x) for x in X[0]]
    b = [float(x) for x in X[j]]
    idx.update(spark.createDataFrame([(7, a), (8, b)], schema), 0)
    # id 7 redelivered with payload b -> different cell, escapes anti-join
    idx.update(spark.createDataFrame([(7, b)], schema), 1)
    with pytest.raises(ValueError, match="vec_id=7"):
        compact_index(idx)


def test_ivf_auto_compaction_policy_bounds_dirs(spark, sf_dir, tmp_path):
    """compact_every keeps the batch-dir count bounded across a long
    update sequence without changing any probe result vs the bare
    out-of-band twin."""
    import os

    emb = table(spark, sf_dir, "embeddings").limit(120)
    bare = IncrementalIvfIndex(spark, str(tmp_path / "bare"))
    auto = IncrementalIvfIndex(
        spark, str(tmp_path / "auto"), compact_every=3
    )
    bare.train(emb)
    auto.train(emb)
    slices = [(0, 20), (20, 40), (40, 60), (60, 80), (80, 100), (100, 10**9)]
    for i, (lo, hi) in enumerate(slices):
        s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        bare.update(s, i)
        auto.update(s, i)
        n_dirs = len(
            [d for d in os.listdir(f"{auto.path}/vectors")
             if d.startswith("batch=")]
        )
        assert n_dirs <= 3  # the policy folds at the threshold
    qs = _queries(emb, 4)
    assert _rows(auto.probe(qs)) == _rows(bare.probe(qs))
    # the bare twin accreted one dir per update (the contract the policy
    # exists to relieve)
    assert len(
        [d for d in os.listdir(f"{bare.path}/vectors")
         if d.startswith("batch=")]
    ) == len(slices)


def test_ivf_tail_batches_are_flat_single_files(spark, sf_dir, tmp_path):
    """Micro-batches land as ONE flat file with `cell` as a data column
    (cell-partitioning is the fold's job): the round-8 200k axis
    measured the per-batch partitionBy("cell") tail at 9.7 s/update and
    7.7 s/probe vs 2.1 s post-compact — one directory per touched cell
    per batch, pure file-open tax (the defect class the round-7
    semdedup review fixed; this pins the port). The mixed-layout read
    (cell-partitioned fold + flat tail) must keep probes identical
    across a fold."""
    import glob
    import os

    from moc_indexer_spark.streaming.ivf_stream import (
        IncrementalIvfPqIndex,
        compact_index,
    )

    emb = table(spark, sf_dir, "embeddings").limit(120)
    for cls, name in [
        (IncrementalIvfIndex, "flat"),
        (IncrementalIvfPqIndex, "pq"),
    ]:
        idx = cls(spark, str(tmp_path / name))
        idx.train(emb, n_cells=8)
        idx.update(emb.filter(F.col("vec_id") < 60), 0)
        d = f"{idx.path}/vectors/batch=0"
        assert not any(f.startswith("cell=") for f in os.listdir(d)), name
        assert len(glob.glob(f"{d}/*.parquet")) == 1, name
        # fold, then add a flat tail on top: the mixed read must union
        # the two layouts and the next fold must preserve every probe
        compact_index(idx)
        idx.update(emb.filter(F.col("vec_id") >= 60), 1)
        qs = _queries(emb, 3)
        want = _rows(idx.probe(qs, n_probe=8))
        compact_index(idx)
        assert _rows(idx.probe(qs, n_probe=8)) == want, name


def test_ivf_fold_id_reuse_invalidates_cached_relations(
    spark, sf_dir, tmp_path
):
    """Regression (round 8): the fold rewrites batch=<committed> IN
    PLACE, so a relation cached for the singleton flat group `(N,)`
    (inside the fold's own pre-read) aliases the post-fold group `(N,)`
    and points at deleted part files. compact_every=2 — every fold's
    tail is a single flat batch — crashed the next update with
    FAILED_READ_FILE before the cache was cleared on fold. The ce=3
    sibling test misses this by one: its folds never see a singleton
    tail."""
    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfPqIndex

    emb = table(spark, sf_dir, "embeddings").limit(120)
    for cls, sub in ((IncrementalIvfIndex, "flat"),
                     (IncrementalIvfPqIndex, "pq")):
        bare = cls(spark, str(tmp_path / f"bare_{sub}"))
        auto = cls(spark, str(tmp_path / f"auto_{sub}"), compact_every=2)
        bare.train(emb)
        auto.train(emb)
        slices = [(0, 20), (20, 40), (40, 60), (60, 80), (80, 10**9)]
        for i, (lo, hi) in enumerate(slices):
            s = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            bare.update(s, i)
            auto.update(s, i)  # crashed here pre-fix (stale file listing)
        qs = _queries(emb, 4)
        assert _rows(auto.probe(qs)) == _rows(bare.probe(qs))
