"""Streaming corpus ingestion (streaming/corpus.py): the LLM cleaning
pipeline under Structured Streaming converges to the batch answer
regardless of file arrival order, and replays are idempotent."""

import os
import shutil

from pyspark.sql import functions as F

from moc_indexer_spark.streaming.corpus import (
    corpus_batch_reference,
    run_corpus_stream_available_now,
)
from moc_indexer_spark.tables import table


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "content_hash", "doc_id", "source", "token_count", "quality_score"
        ).collect()
    )


def test_corpus_stream_matches_batch_and_is_idempotent(spark, tmp_path, sf_dir):
    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)

    # two files, REVERSED id order across them — the keeper rule (min
    # doc_id per content hash) must not depend on arrival order
    hi = docs.filter(F.col("doc_id") >= 250)
    lo = docs.filter(F.col("doc_id") < 250)
    for name, part in (("a_hi", hi), ("b_lo", lo)):
        stage = f"{tmp_path}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        for f_ in os.listdir(stage):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{src}/{name}.parquet")

    out, ck = f"{tmp_path}/corpus", f"{tmp_path}/ck"
    tbl = run_corpus_stream_available_now(spark, src, out, ck, schema=docs.schema)
    got = _rows(tbl.read())
    want = _rows(corpus_batch_reference(docs))
    assert got == want and len(got) > 0

    # replay the same input through a FRESH checkpoint: the versioned MERGE
    # must converge to the identical corpus (no dupes, same keepers)
    run_corpus_stream_available_now(spark, src, out, f"{tmp_path}/ck2",
                                    schema=docs.schema)
    assert _rows(tbl.read()) == want


def test_quality_gate_filters_and_scores(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    ref = corpus_batch_reference(docs)
    # every kept row satisfies the published floors
    from moc_indexer_spark.streaming.corpus import MIN_QUALITY, MIN_TOKENS

    bad = ref.filter(
        (F.col("token_count") < MIN_TOKENS)
        | (F.col("quality_score") < MIN_QUALITY)
    ).count()
    assert bad == 0
    # keeper is the min doc_id of its duplicate group
    dup = (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("min_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    joined = ref.join(dup, "content_hash").filter(
        F.col("doc_id") != F.col("min_id")
    )
    assert joined.count() == 0


def test_near_dedup_stream_matches_batch(spark, tmp_path, sf_dir):
    """Incremental MinHash-LSH near-dedup: streaming the corpus in two
    arbitrary slices must yield EXACTLY the batch operator's verified
    pair set, and a fresh-checkpoint replay must not change it."""
    from moc_indexer_spark.operators.dedup import minhash_lsh_pairs
    from moc_indexer_spark.streaming.corpus import (
        NEAR_N, NEAR_THRESHOLD, run_near_dedup_stream_available_now,
    )

    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)
    hi = docs.filter(F.col("doc_id") % 2 == 0)
    lo = docs.filter(F.col("doc_id") % 2 == 1)
    for name, part in (("a_even", hi), ("b_odd", lo)):
        stage = f"{tmp_path}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        for f_ in os.listdir(stage):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{src}/{name}.parquet")

    tbl = run_near_dedup_stream_available_now(
        spark, src, f"{tmp_path}/state", f"{tmp_path}/ck", schema=docs.schema
    )
    got = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9)) for r in tbl.read().collect()
    )
    want = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, n=NEAR_N, threshold=NEAR_THRESHOLD
        ).collect()
    )
    assert len(want) > 0 and got == want

    # fresh-checkpoint replay over the same state converges (idempotent)
    run_near_dedup_stream_available_now(
        spark, src, f"{tmp_path}/state", f"{tmp_path}/ck2", schema=docs.schema
    )
    got2 = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9)) for r in tbl.read().collect()
    )
    assert got2 == want


def test_line_dedup_stream_matches_batch_with_retro_invalidation(
    spark, tmp_path, sf_dir
):
    """Incremental line-dedup: a line that becomes boilerplate only when a
    LATER batch arrives must retroactively re-clean earlier documents; the
    final view equals the batch operator's output over the full corpus."""
    from pyspark.sql import functions as F2

    from moc_indexer_spark.plans.llm_registry import q_line_dedup_docs
    from moc_indexer_spark.streaming.corpus import (
        run_line_dedup_stream_available_now,
    )

    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)
    # split so near-dup partners land in DIFFERENT slices: every shared
    # line crosses the threshold only at slice 2 -> retro path exercised
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    for name, part in (("s1", a), ("s2", b)):
        stage = f"{tmp_path}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        for f_ in os.listdir(stage):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{src}/{name}.parquet")

    tbl = run_line_dedup_stream_available_now(
        spark, src, f"{tmp_path}/state", f"{tmp_path}/ck", schema=docs.schema
    )
    got = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in tbl.read().collect()
    )
    want = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in q_line_dedup_docs(spark, sf_dir).collect()
    )
    assert len(want) > 0 and got == want
    # some doc must actually have lost lines (the dedup is non-trivial)
    assert any(k < n for (_, _, n, k) in got)


def test_line_dedup_replay_after_partial_crash_converges(
    spark, tmp_path, sf_dir
):
    """Crash window between the two state writes: the lines table already
    holds the batch's rows but the clean table was never updated. On
    re-delivery the pre-batch dup set must be reconstructed (excluding the
    batch's own docs) or the earlier-batch documents the crashed attempt
    was about to re-clean are never rebuilt — the view must still converge
    to the batch answer."""
    from moc_indexer_spark.plans.llm_registry import q_line_dedup_docs
    from moc_indexer_spark.streaming.corpus import (
        _doc_lines,
        run_line_dedup_stream_available_now,
    )
    from moc_indexer_spark.streaming.sink import ParquetUpsertTable

    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    def ship(name, part):
        stage = f"{tmp_path}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        for f_ in os.listdir(stage):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{src}/{name}.parquet")

    state, ck = f"{tmp_path}/state", f"{tmp_path}/ck"
    ship("s1", a)
    run_line_dedup_stream_available_now(spark, src, state, ck,
                                        schema=docs.schema)

    # simulate the crashed delivery of slice 2: its lines landed, the
    # clean table never heard about it
    lines_tbl = ParquetUpsertTable(spark, f"{state}/lines",
                                   keys=["doc_id", "pos"])
    lines_tbl.upsert(
        _doc_lines(b).select("doc_id", "pos", "line", "lh", "n_lines")
    )

    # re-delivery: the same slice arrives through the stream
    ship("s2", b)
    tbl = run_line_dedup_stream_available_now(spark, src, state, ck,
                                              schema=docs.schema)
    got = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in tbl.read().collect()
    )
    want = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in q_line_dedup_docs(spark, sf_dir).collect()
    )
    assert got == want


def test_line_dedup_stream_random_slicings_property(spark, tmp_path, sf_dir):
    """Hypothesis-style slicing sweep (seeded, not @given — each case
    runs a full stream): the incremental line-dedup view must equal the
    batch answer for ARBITRARY partitions of the corpus into slice
    files, not just the even/odd split the targeted test uses. Retro
    invalidation fires whenever a shared line's doc_count crosses the
    threshold only in a later batch — random assignments hit crossing
    patterns (1-then-2, 2-then-1, singleton slices) the fixed split
    cannot."""
    import random

    from moc_indexer_spark.plans.llm_registry import q_line_dedup_docs
    from moc_indexer_spark.streaming.corpus import (
        run_line_dedup_stream_available_now,
    )

    docs = table(spark, sf_dir, "documents")
    want = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in q_line_dedup_docs(spark, sf_dir).collect()
    )
    ids = [r.doc_id for r in docs.select("doc_id").collect()]

    for case, (seed, n_slices) in enumerate([(11, 3), (23, 4), (37, 2)]):
        rng = random.Random(seed)
        assign = {i: rng.randrange(n_slices) for i in ids}
        amap = spark.createDataFrame(
            list(assign.items()), ["doc_id", "slice"]
        )
        sliced = docs.join(F.broadcast(amap), "doc_id")
        src = f"{tmp_path}/src_{case}"
        os.makedirs(src)
        for s in range(n_slices):
            part = sliced.filter(F.col("slice") == s).drop("slice")
            stage = f"{tmp_path}/stage_{case}_{s}"
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            for f_ in os.listdir(stage):
                if f_.endswith(".parquet"):
                    shutil.copy(f"{stage}/{f_}", f"{src}/s{s}.parquet")
        tbl = run_line_dedup_stream_available_now(
            spark, src, f"{tmp_path}/state_{case}", f"{tmp_path}/ck_{case}",
            schema=docs.schema,
        )
        got = sorted(
            (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
            for r in tbl.read().collect()
        )
        assert got == want, f"slicing case {case} (seed={seed}) diverged"


def test_near_dedup_stream_random_slicings_property(spark, tmp_path, sf_dir):
    """Same seeded slicing sweep for the incremental MinHash-LSH pairs:
    cross-batch candidates (new docs vs the persisted bucket index) plus
    in-batch candidates must together recover the batch pair set for
    ARBITRARY corpus partitions — a pair can arrive same-batch, split
    1/2, or split 2/1, and each route must meet exactly once."""
    import random

    from moc_indexer_spark.operators.dedup import minhash_lsh_pairs
    from moc_indexer_spark.streaming.corpus import (
        NEAR_N, NEAR_THRESHOLD, run_near_dedup_stream_available_now,
    )

    docs = table(spark, sf_dir, "documents")
    want = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, n=NEAR_N, threshold=NEAR_THRESHOLD
        ).collect()
    )
    assert len(want) > 0
    ids = [r.doc_id for r in docs.select("doc_id").collect()]

    for case, (seed, n_slices) in enumerate([(5, 3), (41, 4)]):
        rng = random.Random(seed)
        assign = {i: rng.randrange(n_slices) for i in ids}
        amap = spark.createDataFrame(
            list(assign.items()), ["doc_id", "slice"]
        )
        sliced = docs.join(F.broadcast(amap), "doc_id")
        src = f"{tmp_path}/nd_src_{case}"
        os.makedirs(src)
        for s in range(n_slices):
            part = sliced.filter(F.col("slice") == s).drop("slice")
            stage = f"{tmp_path}/nd_stage_{case}_{s}"
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            for f_ in os.listdir(stage):
                if f_.endswith(".parquet"):
                    shutil.copy(f"{stage}/{f_}", f"{src}/s{s}.parquet")
        tbl = run_near_dedup_stream_available_now(
            spark, src, f"{tmp_path}/nd_state_{case}",
            f"{tmp_path}/nd_ck_{case}", schema=docs.schema,
        )
        got = sorted(
            (r.doc_i, r.doc_j, round(r.jaccard, 9))
            for r in tbl.read().collect()
        )
        assert got == want, f"slicing case {case} (seed={seed}) diverged"


def test_near_dedup_state_joins_broadcast_the_batch_side(
    spark, tmp_path, sf_dir
):
    """Scale pin (round 8, re-pinned on the round-9 batch-dir state):
    the per-tick joins against stored state must broadcast the
    BATCH-derived side so the corpus-sized relations (bands index,
    feature table) are scanned map-only — a statistics-free state read
    that fell back to sort-merge would shuffle O(corpus) rows per
    micro-batch. Also pins that new-id detection is the broadcast
    semi + anti pair, never a full-state shuffle."""
    from moc_indexer_spark.streaming.corpus import (
        IncrementalNearDup, _band_rows, _doc_features, _verify_pairs,
        run_near_dedup_stream_available_now,
    )

    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)
    stage = f"{tmp_path}/stage"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    for f_ in os.listdir(stage):
        if f_.endswith(".parquet"):
            shutil.copy(f"{stage}/{f_}", f"{src}/a.parquet")
    run_near_dedup_stream_available_now(
        spark, src, f"{tmp_path}/state", f"{tmp_path}/ck", schema=docs.schema
    )

    # reconstruct the update body's state joins against the built state
    idx = IncrementalNearDup(spark, f"{tmp_path}/state")
    committed = idx.committed_batch()
    assert committed >= 0
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    feats = _doc_features(batch)
    stored_feats = idx.logs["feats"].read(committed)
    redelivered = stored_feats.select("doc_id").join(
        F.broadcast(feats.select("doc_id")), "doc_id"
    )
    new = feats.join(F.broadcast(redelivered), "doc_id", "left_anti")
    nb = F.broadcast(_band_rows(new)).alias("n")
    sb = idx.logs["bands"].read(committed).alias("o")
    cross = nb.join(
        sb,
        (F.col("n.band") == F.col("o.band"))
        & (F.col("n.bucket") == F.col("o.bucket"))
        & (F.col("n.doc_id") != F.col("o.doc_id")),
    ).select(
        F.least("n.doc_id", "o.doc_id").alias("doc_i"),
        F.greatest("n.doc_id", "o.doc_id").alias("doc_j"),
    )
    feats_all = new.select("doc_id", "sh").unionByName(
        stored_feats.select("doc_id", "sh")
    )
    hits = _verify_pairs(cross.dropDuplicates(["doc_i", "doc_j"]), feats_all)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    # redelivery semi + bands + verify x2
    assert plan.count("BroadcastHashJoin") >= 4
    # new-id detection must be the broadcast anti (no full-state shuffle)
    assert "LeftAnti, BuildRight" in plan
    hits.count()  # and it executes

def test_dedup_streams_converge_with_broadcast_fallback(
    spark, tmp_path, sf_dir, monkeypatch
):
    """Forced-broadcast safety bound (ADVICE r8): with the thresholds
    pinned to 0 every tick takes the unhinted fallback path (a hot LSH
    bucket / boilerplate fan-out would otherwise blow the broadcast cap)
    — and the answers must be IDENTICAL to the hinted plans' (the hint
    is a physical-plan choice, never a semantic one)."""
    from moc_indexer_spark.operators.dedup import minhash_lsh_pairs
    from moc_indexer_spark.plans.llm_registry import q_line_dedup_docs
    from moc_indexer_spark.streaming import corpus as C

    monkeypatch.setattr(C, "VERIFY_BROADCAST_MAX_CANDS", 0)
    monkeypatch.setattr(C, "LINE_BROADCAST_MAX_AFFECTED_DOCS", 0)

    docs = table(spark, sf_dir, "documents")
    src = f"{tmp_path}/src"
    os.makedirs(src)
    for name, part in (
        ("a", docs.filter(F.col("doc_id") % 2 == 0)),
        ("b", docs.filter(F.col("doc_id") % 2 == 1)),
    ):
        stage = f"{tmp_path}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        for f_ in os.listdir(stage):
            if f_.endswith(".parquet"):
                shutil.copy(f"{stage}/{f_}", f"{src}/{name}.parquet")

    near = C.run_near_dedup_stream_available_now(
        spark, src, f"{tmp_path}/nstate", f"{tmp_path}/nck", schema=docs.schema
    )
    got = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9)) for r in near.read().collect()
    )
    want = sorted(
        (r.doc_i, r.doc_j, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, n=C.NEAR_N, threshold=C.NEAR_THRESHOLD
        ).collect()
    )
    assert len(want) > 0 and got == want

    line = C.run_line_dedup_stream_available_now(
        spark, src, f"{tmp_path}/lstate", f"{tmp_path}/lck", schema=docs.schema
    )
    got_l = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in line.read().collect()
    )
    want_l = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_kept)
        for r in q_line_dedup_docs(spark, sf_dir).collect()
    )
    assert len(want_l) > 0 and got_l == want_l
