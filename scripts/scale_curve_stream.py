#!/usr/bin/env python
"""Measured scaling curve for the STREAMING INDEX MAINTAINERS (round-5:
the sink/ingest and batch-operator curves are measured; this covers the
last unmeasured subsystem — the incremental BM25 and IVF indexes under
their foreachBatch maintenance contract).

Axes, written into SCALE_CURVE.json under "stream_results":

- bm25_update_vs_index_size / ivf_update_vs_index_size: latency of ONE
  fixed-size micro-batch update after the index already holds 1x/3x/10x
  documents (pre-loaded in fixed-size batches so the partition count
  grows with the corpus, as it does under a real cadence). The update
  reads history only through the new-doc anti-join (doc-id column) and
  rewrites the vocab-sized dfreq / 1-row stats snapshots (BM25) or
  appends one flat assigned batch file (IVF) — expect sub-linear growth.
- bm25_probe_vs_index_size / ivf_probe_vs_index_size: probe latency at
  the committed state for the same sizes, plus a post-compaction point
  at the largest size (the read tax compaction exists to bound).

Corpora are resampled-with-replacement from sf0.1 documents/embeddings
with fresh ids — marginals (text length, vocab, cell distribution)
preserved; duplicate payloads under distinct ids are what a growing
corpus looks like to these indexes (new-doc detection keys on id).

Usage: python scripts/scale_curve_stream.py [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF01 = "/root/testdata/sf0.1"

BM25_SIZES = [5_000, 15_000, 50_000]     # docs in the index (1x/3x/10x sf0.1)
# vector sizes: round 8 extends the axes to 100x (200k vectors) — the
# brief's bar is "survive a 100x scale-up" and 20k/60k is where the
# round-7 measurements stopped
IVF_SIZES = [2_000, 6_000, 20_000, 200_000]
LOAD_BATCH_DOCS = 2_500                  # pre-load batch size (docs)
LOAD_BATCH_VECS = 1_000                  # pre-load batch size (vectors)
UPDATE_DOCS = 250                        # the timed micro-batch
UPDATE_VECS = 200
# pre-loads run under the production posture (auto-compaction policy,
# round 8): the timed update then measures the MAINTAINED index — the
# module contract — instead of one with O(size/LOAD_BATCH) accreted
# batch dirs, which at the 200k point would measure directory-listing
# tax, not update physics
LOAD_COMPACT_EVERY = 16


def _ivf_cells(n: int) -> int:
    """Corpus-scaled cell count for the vector axes — semdedup_stream's
    occupancy-256 formula (IVF practice: cells sized to the corpus the
    index grows into). The knob IS the scale story: a fixed 16 cells at
    200k makes every cell-pruned anti-join read O(index); a first cut at
    occupancy 1250 (160 cells at 200k) measured 8.98 s/update because a
    200-vector batch touches ~114/160 cells and still reads ~71% of the
    index. At occupancy 256 the cell count passes the batch size between
    the 20k and 60k points, after which an update reads at most
    touched_cells(<=batch) * 256 rows REGARDLESS of index size — the
    saturation regime that holds at 100 TB."""
    return min(4096, max(16, n // 256))


from _curve_util import (  # noqa: E402
    fit_exponent as _fit_exponent,
    median_times as _median_times,
)


def _doc_batches(rng, texts, start_id: int, total: int, batch: int):
    """Yield (ids, texts) slices resampled with fresh consecutive ids."""
    done = 0
    while done < total:
        n = min(batch, total - done)
        idx = rng.integers(0, len(texts), size=n)
        ids = list(range(start_id + done, start_id + done + n))
        yield ids, [texts[i] for i in idx]
        done += n


def run_bm25(spark, runs: int) -> dict:
    import numpy as np

    from moc_indexer_spark.streaming.bm25_stream import (
        IncrementalBm25Index, compact_index,
    )

    texts = [r.text for r in spark.read.parquet(
        f"{SF01}/documents.parquet").select("text").collect()]
    rng = np.random.default_rng(7)
    out: dict[str, dict] = {}
    upd_row: dict = {"t": {}}
    probe_row: dict = {"t": {}}
    for n in BM25_SIZES:
        d = tempfile.mkdtemp(prefix=f"scale_bm25_{n}_")
        idx = IncrementalBm25Index(spark, os.path.join(d, "ix"))
        bid = 0
        for ids, txts in _doc_batches(rng, texts, 0, n, LOAD_BATCH_DOCS):
            idx.update(spark.createDataFrame(
                list(zip(ids, txts)), "doc_id long, text string"), bid)
            bid += 1
        # warm the probe/update code paths once (codegen, python workers)
        idx.probe().write.format("noop").mode("overwrite").save()

        def one_update():
            nonlocal bid
            ids, txts = next(_doc_batches(
                rng, texts, n + bid * UPDATE_DOCS, UPDATE_DOCS, UPDATE_DOCS))
            idx.update(spark.createDataFrame(
                list(zip(ids, txts)), "doc_id long, text string"), bid)
            bid += 1

        one_update()  # warm
        upd_row["t"][str(n)] = _median_times(one_update, runs)
        probe_row["t"][str(n)] = _median_times(
            lambda: idx.probe().write.format("noop")
            .mode("overwrite").save(), runs)
        if n == BM25_SIZES[-1]:
            t0 = time.perf_counter()
            compact_index(idx)
            probe_row["compact_sec"] = round(time.perf_counter() - t0, 3)
            probe_row["t_post_compact"] = _median_times(
                lambda: idx.probe().write.format("noop")
                .mode("overwrite").save(), runs)
    for name, row in (("bm25_update_vs_index_size", upd_row),
                      ("bm25_probe_vs_index_size", probe_row)):
        row["exponent"] = _fit_exponent(
            [n / BM25_SIZES[0] for n in BM25_SIZES],
            [row["t"][str(n)] for n in BM25_SIZES],
        )
        out[name] = row
        print(json.dumps({name: row}), flush=True)
    return out


def run_ivf(spark, runs: int) -> dict:
    import numpy as np

    from moc_indexer_spark.streaming.ivf_stream import (
        IncrementalIvfIndex, compact_index,
    )

    src = spark.read.parquet(f"{SF01}/embeddings.parquet")
    vecs = [list(r.embedding) for r in src.select("embedding").collect()]
    rng = np.random.default_rng(11)
    queries = [(10**9 + i, vecs[i]) for i in range(32)]
    out: dict[str, dict] = {}
    upd_row: dict = {"t": {}}
    probe_row: dict = {"t": {}}
    for n in IVF_SIZES:
        d = tempfile.mkdtemp(prefix=f"scale_ivf_{n}_")
        idx = IncrementalIvfIndex(
            spark, os.path.join(d, "ix"),
            compact_every=LOAD_COMPACT_EVERY,
        )
        idx.train(src, n_cells=_ivf_cells(n))
        bid = 0
        done = 0
        while done < n:
            m = min(LOAD_BATCH_VECS, n - done)
            pick = rng.integers(0, len(vecs), size=m)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            bid += 1
            done += m
        idx.probe(queries).write.format("noop").mode("overwrite").save()

        def one_update():
            nonlocal bid, done
            pick = rng.integers(0, len(vecs), size=UPDATE_VECS)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            bid += 1
            done += UPDATE_VECS

        one_update()  # warm
        upd_row["t"][str(n)] = _median_times(one_update, runs)
        probe_row["t"][str(n)] = _median_times(
            lambda: idx.probe(queries).write.format("noop")
            .mode("overwrite").save(), runs)
        if n == IVF_SIZES[-1]:
            t0 = time.perf_counter()
            compact_index(idx)
            probe_row["compact_sec"] = round(time.perf_counter() - t0, 3)
            probe_row["t_post_compact"] = _median_times(
                lambda: idx.probe(queries).write.format("noop")
                .mode("overwrite").save(), runs)
    for name, row in (("ivf_update_vs_index_size", upd_row),
                      ("ivf_probe_vs_index_size", probe_row)):
        row["exponent"] = _fit_exponent(
            [n / IVF_SIZES[0] for n in IVF_SIZES],
            [row["t"][str(n)] for n in IVF_SIZES],
        )
        out[name] = row
        print(json.dumps({name: row}), flush=True)
    return out


def run_ivfpq(spark, runs: int) -> dict:
    """ivfpq_update_vs_index_size: the IVFADC maintainer's one-batch
    update latency at 1x..100x — the production ANN's own axis (round 7
    measured it only through the flat-IVF twin; the encode stage adds a
    per-batch PQ pass whose cost is batch-sized, so the curve should
    track the flat one)."""
    import numpy as np

    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfPqIndex

    src = spark.read.parquet(f"{SF01}/embeddings.parquet")
    vecs = [list(r.embedding) for r in src.select("embedding").collect()]
    rng = np.random.default_rng(17)
    queries = [(10**9 + i, vecs[i]) for i in range(32)]
    row: dict = {"t": {}}
    probe_row: dict = {"t": {}}
    for n in IVF_SIZES:
        d = tempfile.mkdtemp(prefix=f"scale_ivfpq_{n}_")
        idx = IncrementalIvfPqIndex(
            spark, os.path.join(d, "ix"),
            compact_every=LOAD_COMPACT_EVERY,
        )
        idx.train(src, n_cells=_ivf_cells(n))
        bid = 0
        done = 0
        while done < n:
            m = min(LOAD_BATCH_VECS, n - done)
            pick = rng.integers(0, len(vecs), size=m)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            bid += 1
            done += m
        idx.probe(queries).write.format("noop").mode("overwrite").save()

        def one_update():
            nonlocal bid, done
            pick = rng.integers(0, len(vecs), size=UPDATE_VECS)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            bid += 1
            done += UPDATE_VECS

        one_update()  # warm
        row["t"][str(n)] = _median_times(one_update, runs)
        probe_row["t"][str(n)] = _median_times(
            lambda: idx.probe(queries).write.format("noop")
            .mode("overwrite").save(), runs)
        print(json.dumps({f"ivfpq_update@{n}": row["t"][str(n)],
                          f"ivfpq_probe@{n}": probe_row["t"][str(n)]}),
              flush=True)
    out = {}
    for name, r in (("ivfpq_update_vs_index_size", row),
                    ("ivfpq_probe_vs_index_size", probe_row)):
        r["exponent"] = _fit_exponent(
            [n / IVF_SIZES[0] for n in IVF_SIZES],
            [r["t"][str(n)] for n in IVF_SIZES],
        )
        out[name] = r
        print(json.dumps({name: r}), flush=True)
    return out


SEMDEDUP_SIZES = [2_000, 6_000, 20_000, 60_000, 200_000]  # vectors
UPDATE_SEMDEDUP_VECS = 50


def run_semdedup(spark, runs: int) -> dict:
    """semdedup_update_vs_index_size: one fixed 50-vector update after the
    index holds 1x/3x/10x/30x vectors. The maintainer's per-batch work is
    bounded by touched_cells * occupancy^2 with touched_cells <= batch
    size — so once the corpus-scaled cell count exceeds the batch size
    (here from the 20k point on: 78 and 234 cells vs 50 new vectors),
    update cost is INDEPENDENT of index size. The 2k/6k points sit below
    that regime (16/23 cells, occupancy still filling toward the 256
    target) — expect the curve to flatten from 20k->60k, which is the
    claim that matters at 100 TB. State tables are MoR, so the MERGE
    side is O(batch) appends at any size."""
    import numpy as np

    from moc_indexer_spark.streaming.semdedup_stream import (
        IncrementalSemDeDup,
    )

    src = spark.read.parquet(f"{SF01}/embeddings.parquet")
    vecs = [list(r.embedding) for r in src.select("embedding").collect()]
    rng = np.random.default_rng(13)
    row: dict = {"t": {}}
    for n in SEMDEDUP_SIZES:
        d = tempfile.mkdtemp(prefix=f"scale_semdedup_{n}_")
        idx = IncrementalSemDeDup(
            spark, os.path.join(d, "ix"),
            compact_every=LOAD_COMPACT_EVERY,
        )
        idx.train(src, expected_corpus_rows=n)
        done = 0
        bid = 0
        while done < n:
            m = min(LOAD_BATCH_VECS, n - done)
            pick = rng.integers(0, len(vecs), size=m)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            done += m
            bid += 1
        # fold the pre-load: timed updates measure the MAINTAINED index
        # (flat tail bounded by compaction cadence — the module contract)
        idx.compact()

        def one_update():
            nonlocal done, bid
            pick = rng.integers(0, len(vecs), size=UPDATE_SEMDEDUP_VECS)
            rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
            idx.update(spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"), bid)
            done += UPDATE_SEMDEDUP_VECS
            bid += 1

        one_update()  # warm
        row["t"][str(n)] = _median_times(one_update, runs)
        print(json.dumps({f"semdedup_update@{n}": row["t"][str(n)]}),
              flush=True)
    row["exponent"] = _fit_exponent(
        [n / SEMDEDUP_SIZES[0] for n in SEMDEDUP_SIZES],
        [row["t"][str(n)] for n in SEMDEDUP_SIZES],
    )
    tail = SEMDEDUP_SIZES[-2:]  # derived, not hardcoded: sizes may change
    row["exponent_tail"] = _fit_exponent(
        [n / tail[0] for n in tail], [row["t"][str(n)] for n in tail],
    )
    out = {"semdedup_update_vs_index_size": row}
    print(json.dumps(out), flush=True)
    return out


TEXTDEDUP_SIZES = [5_000, 15_000, 50_000]   # docs in state (1x/3x/10x sf0.1)
TEXTDEDUP_FILE_DOCS = 1_000                 # docs per arrival file
TEXTDEDUP_UPDATE_DOCS = 250                 # the timed micro-batch


def run_textdedup(spark, runs: int) -> dict:
    """neardedup/linededup_update_vs_state_size: one fixed-size micro-batch
    through the TEXT dedup stream maintainers (streaming/corpus.py) after
    the state already holds 1x/3x/10x documents. The round-8 rewrites made
    both maintainers' per-tick state interaction map-only scans (broadcast
    batch side; batch-bounded recounts) — this axis is the measured form
    of that claim. The timed unit is one availableNow run over ONE new
    arrival file (stream startup overhead included — constant across
    sizes, so the exponent is the state-size signal).

    Variance control (round 9): the TIMED batches carry IDENTICAL content
    at every state size (fresh ids only), and each size's PRELOAD is a
    prefix-nested resample (rng reseeded per size). The round-8 axis
    resampled fresh content everywhere; the line-dedup rebuild cost
    depends on how many stored docs a batch's lines newly cross the
    threshold for, so content variance swamped the state-size signal
    (14.6/21.6/10.6 s, non-monotone). Fixed content makes the exponent
    legible."""
    import numpy as np

    from moc_indexer_spark.streaming.corpus import (
        run_line_dedup_stream_available_now,
        run_near_dedup_stream_available_now,
    )

    docs_src = spark.read.parquet(f"{SF01}/documents.parquet")
    texts = [r.text for r in docs_src.select("text").collect()]
    schema = "doc_id long, text string, source string"
    out: dict[str, dict] = {}

    # the fixed-content timed batches: one shared sequence, replayed from
    # the top at every state size (ids differ, content does not)
    upd_rng = np.random.default_rng(101)
    upd_content = [
        [texts[i] for i in upd_rng.integers(
            0, len(texts), size=TEXTDEDUP_UPDATE_DOCS)]
        for _ in range(8)
    ]

    def write_file(src_dir: str, path_name: str, ids, txts):
        stage = tempfile.mkdtemp(prefix="textdedup_stage_")
        spark.createDataFrame(
            [(i, t, "s") for i, t in zip(ids, txts)], schema
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        import shutil

        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(stage, f),
                            os.path.join(src_dir, f"{path_name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    for label, runner in (("neardedup", run_near_dedup_stream_available_now),
                          ("linededup", run_line_dedup_stream_available_now)):
        row: dict = {"t": {}}
        for n in TEXTDEDUP_SIZES:
            rng = np.random.default_rng(37)  # prefix-nested preloads
            base = tempfile.mkdtemp(prefix=f"textdedup_{label}_{n}_")
            src = os.path.join(base, "src")
            os.makedirs(src)
            nfile = 0
            for ids, txts in _doc_batches(rng, texts, 0, n,
                                          TEXTDEDUP_FILE_DOCS):
                write_file(src, f"f{nfile:05d}", ids, txts)
                nfile += 1
            runner(spark, src, os.path.join(base, "state"),
                   os.path.join(base, "ck"),
                   schema=docs_src.select("doc_id", "text", "source").schema,
                   max_files_per_trigger=None)  # preload: one big batch
            done = n
            upd_k = 0

            def one_update():
                nonlocal nfile, done, upd_k
                # cycle the fixed-content pool: --runs is unbounded
                txts = upd_content[upd_k % len(upd_content)]
                ids = list(range(done, done + len(txts)))
                upd_k += 1
                write_file(src, f"f{nfile:05d}", ids, txts)
                nfile += 1
                done += len(txts)
                runner(spark, src, os.path.join(base, "state"),
                       os.path.join(base, "ck"),
                       schema=docs_src.select(
                           "doc_id", "text", "source").schema)

            one_update()  # warm
            row["t"][str(n)] = _median_times(one_update, runs)
            print(json.dumps({f"{label}_update@{n}": row["t"][str(n)]}),
                  flush=True)
        row["exponent"] = _fit_exponent(
            [n / TEXTDEDUP_SIZES[0] for n in TEXTDEDUP_SIZES],
            [row["t"][str(n)] for n in TEXTDEDUP_SIZES],
        )
        name = f"{label}_update_vs_state_size"
        out[name] = row
        print(json.dumps({name: row}), flush=True)
    return out


FUNNEL_SIZES = [5_000, 15_000, 50_000]
FUNNEL_PRELOAD_BATCH = 2_500
FUNNEL_TICK_DOCS = 250
FUNNEL_COMPACT_EVERY = 8


def run_funnel(spark, runs: int) -> dict:
    """funnel_tick/publish_vs_corpus_size: the streaming curation
    funnel's two cost shapes. The TICK (one direct process_batch of
    FUNNEL_TICK_DOCS docs — no stream-harness overhead, unlike the
    textdedup axis) composes every tier's incremental maintenance and
    must stay flat vs corpus size: gate is map-only, docs/corpus/pairs
    state lands as O(batch) MoR/batch-dir appends, near-dup scans state
    map-only, SemDeDup reads only touched cells. PUBLISH is the batch
    artifact cut — O(corpus) BY SEMANTICS (DSIR/packing/shards read
    every survivor) — measured so the linear exponent is a recorded
    expectation, not a surprise. Timed-batch content fixed across sizes
    (the round-9 variance-control discipline); the embedding sidecar
    maps every resampled id to its base doc's vector, so the semantic
    tier stays exercised at every size."""
    import numpy as np

    from moc_indexer_spark.streaming.funnel import StreamingCurationFunnel

    docs_src = spark.read.parquet(f"{SF01}/documents.parquet")
    rows_base = [
        (r.text, r.lang, r.source)
        for r in docs_src.select("text", "lang", "source").collect()
    ]
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    n_base = len(rows_base)
    schema = "doc_id long, text string, lang string, source string"

    upd_rng = np.random.default_rng(103)
    upd_picks = [
        upd_rng.integers(0, n_base, size=FUNNEL_TICK_DOCS)
        for _ in range(8)
    ]

    def mk_batch(start_id, picks):
        return spark.createDataFrame(
            [(start_id + j,) + rows_base[int(p)]
             for j, p in enumerate(picks)],
            schema,
        )

    out: dict[str, dict] = {}
    tick_row: dict = {"t": {}}
    pub_row: dict = {"t": {}}
    for n in FUNNEL_SIZES:
        rng = np.random.default_rng(47)  # prefix-nested preloads
        base = tempfile.mkdtemp(prefix=f"funnel_{n}_")
        # sidecar: every id this run can mint maps to a base vector, so
        # gated docs always carry embeddings (vec_id = id, payload =
        # base id's embedding)
        side = os.path.join(base, "emb")
        from _curve_util import write_id_mapped_sidecar

        write_id_mapped_sidecar(
            spark, emb, n + 16 * FUNNEL_TICK_DOCS, side
        )
        funnel = StreamingCurationFunnel(
            spark, os.path.join(base, "state"),
            embeddings_path=side, expected_corpus_rows=n,
            compact_every=FUNNEL_COMPACT_EVERY,
        )
        done, bid = 0, 0
        while done < n:
            m = min(FUNNEL_PRELOAD_BATCH, n - done)
            funnel.process_batch(
                mk_batch(done, rng.integers(0, n_base, size=m)), bid
            )
            done += m
            bid += 1
        upd_k = 0

        def one_tick():
            nonlocal done, bid, upd_k
            # cycle the fixed-content pool: --runs is unbounded
            funnel.process_batch(
                mk_batch(done, upd_picks[upd_k % len(upd_picks)]), bid
            )
            done += FUNNEL_TICK_DOCS
            bid += 1
            upd_k += 1

        one_tick()  # warm
        tick_row["t"][str(n)] = _median_times(one_tick, runs)
        t0 = time.time()
        funnel.publish(os.path.join(base, "out"))
        pub_row["t"][str(n)] = round(time.time() - t0, 3)
        print(json.dumps({f"funnel_tick@{n}": tick_row["t"][str(n)],
                          f"funnel_publish@{n}": pub_row["t"][str(n)]}),
              flush=True)
    for row in (tick_row, pub_row):
        row["exponent"] = _fit_exponent(
            [s / FUNNEL_SIZES[0] for s in FUNNEL_SIZES],
            [row["t"][str(s)] for s in FUNNEL_SIZES],
        )
    tick_row["note"] = (
        "one direct process_batch of 250 docs (every tier's incremental "
        "maintenance: gate + docs/corpus MoR appends + near-dup update + "
        "SemDeDup touched-cell update + counts + at-most-one minor "
        "merge), fixed timed-batch content across sizes — the funnel's "
        "3 s-tick story is this row staying flat"
    )
    pub_row["note"] = (
        "one publish() artifact cut (exact/near/semantic keeper "
        "derivation + decontamination + DSIR + packing + sharded write "
        "+ manifest) — O(corpus) BY SEMANTICS; run at release cadence, "
        "not per tick"
    )
    out["funnel_tick_vs_corpus_size"] = tick_row
    out["funnel_publish_vs_corpus_size"] = pub_row
    print(json.dumps(out), flush=True)
    return out


LONGRUN_PRELOAD = 20_000
LONGRUN_CYCLES = 40
LONGRUN_TICK_VECS = 50
LONGRUN_COMPACT_EVERY = 8


LONGRUN_ENVELOPE_SEC = 3.0  # the reference's tightest tick
# off-tick deferral budget (round 10): a due minor fold runs only when
# the tick's own work left headroom to absorb the measured ~0.35 s fold
# overhead under the 3 s envelope — otherwise it defers to a faster tick
LONGRUN_FOLD_BUDGET = 2.6


def _longrun_arms(mk_index, update_fn, count_state,
                  preload=None, tick=None, tick_key="tick_vecs"):
    """Shared two-arm long-run skeleton (the mor_cycle_policy_longrun
    pattern): identical preload + fold, then LONGRUN_CYCLES tick-sized
    updates per arm — policy ON (compact_every=LONGRUN_COMPACT_EVERY)
    vs OFF (out-of-band contract, never called). Reports the accretion
    slope a months-long daemon rides (first10 vs last10 medians) and
    how many cycles absorbed a fold.

    SLA framing (round 9): with ce=8 over 40 cycles, maintenance lands
    in ~10-25% of ticks, so ON-arm p90 catching a fold tick is
    arithmetic, not a defect — p90 is the 10% quantile. The numbers
    that adjudicate the policy are `max` and `envelope_violations`
    (cycles over the reference's 3 s tightest tick): the round-9 tiered
    folds (minor vector fold + delta-tail merge, both O(cadence)) bound
    what a tick can absorb, where the round-8 full folds grew with the
    index. `fold_overhead_p50` isolates the maintenance cost itself
    (median of fold-cycle latency minus median of clean-cycle latency)."""
    import statistics

    out = {}
    # round 10: the policy_on_deferral arm enforces the BASELINE.md
    # maintenance SLA — same threshold, plus the off-tick deferral
    # budget; a due fold skips when the tick already consumed it
    for label, ce, budget in (
        ("policy_on", LONGRUN_COMPACT_EVERY, None),
        ("policy_on_deferral", LONGRUN_COMPACT_EVERY, LONGRUN_FOLD_BUDGET),
        ("policy_off", None, None),
    ):
        idx, state0 = mk_index(ce, budget)
        lat, fold_cycles = [], []
        for c in range(LONGRUN_CYCLES):
            before = count_state(idx)
            t0 = time.perf_counter()
            update_fn(idx, c)
            lat.append(time.perf_counter() - t0)
            if count_state(idx) < before + 1:
                fold_cycles.append(c)
        s = sorted(lat)
        clean = [x for i, x in enumerate(lat) if i not in set(fold_cycles)]
        foldlat = [lat[i] for i in fold_cycles]
        out[label] = {
            "cycles": LONGRUN_CYCLES,
            "preload": LONGRUN_PRELOAD if preload is None else preload,
            tick_key: LONGRUN_TICK_VECS if tick is None else tick,
            "median": round(s[len(s) // 2], 3),
            "p90": round(s[int(len(s) * 0.9)], 3),
            "max": round(max(lat), 3),
            "first10_median": round(statistics.median(lat[:10]), 3),
            "last10_median": round(statistics.median(lat[-10:]), 3),
            "compaction_cycles": len(fold_cycles),
            "envelope_violations": sum(
                1 for x in lat if x > LONGRUN_ENVELOPE_SEC
            ),
            "fold_overhead_p50": round(
                statistics.median(foldlat) - statistics.median(clean), 3
            ) if foldlat and clean else None,
            "deferred_folds": idx.folds.deferred,
            "fold_budget_sec": budget,
        }
        print(json.dumps({label: out[label]}), flush=True)
    return out


def _vec_preload(spark, idx, rng, vecs):
    """Shared vector-maintainer preload: LONGRUN_PRELOAD vectors in
    LOAD_BATCH_VECS batches, then one out-of-band fold so both arms
    start from one identically-folded state — the ON/OFF contrast is
    then purely the LONGRUN_CYCLES unattended cycles."""
    bid = 0
    done = 0
    while done < LONGRUN_PRELOAD:
        m = min(LOAD_BATCH_VECS, LONGRUN_PRELOAD - done)
        pick = rng.integers(0, len(vecs), size=m)
        rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
        idx.update(spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"), bid)
        bid += 1
        done += m
    if hasattr(idx, "compact"):
        idx.compact()
    else:
        from moc_indexer_spark.streaming.ivf_stream import compact_index

        compact_index(idx)
    return bid, done


def run_policy_longrun(spark) -> dict:
    """semdedup/ivfpq_stream_policy_longrun: the round-8 auto-compaction
    policy under a long-running daemon, for the two headline vector
    maintainers. The OFF arm rides the flat-batch tail accretion the
    maintainers' flat update exponents explicitly assumed away ("a
    maintenance-cadence-bounded tail"); the ON arm is the policy keeping
    that assumption true unattended."""
    import numpy as np

    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfPqIndex
    from moc_indexer_spark.streaming.semdedup_stream import (
        IncrementalSemDeDup,
    )

    src = spark.read.parquet(f"{SF01}/embeddings.parquet")
    vecs = [list(r.embedding) for r in src.select("embedding").collect()]

    def preload(idx, rng):
        return _vec_preload(spark, idx, rng, vecs)

    out = {}

    # --- SemDeDup maintainer -------------------------------------------------
    state = {}

    def mk_sem(ce, budget=None):
        rng = np.random.default_rng(19)
        d = tempfile.mkdtemp(prefix=f"longrun_sem_{ce}_")
        idx = IncrementalSemDeDup(spark, os.path.join(d, "ix"),
                                  compact_every=ce,
                                  fold_budget_sec=budget)
        idx.train(src, expected_corpus_rows=LONGRUN_PRELOAD)
        bid, done = preload(idx, rng)
        state[id(idx)] = [bid, done, rng]
        return idx, None

    def upd_sem(idx, _c):
        bid, done, rng = state[id(idx)]
        pick = rng.integers(0, len(vecs), size=LONGRUN_TICK_VECS)
        rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
        idx.update(spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"), bid)
        state[id(idx)] = [bid + 1, done + LONGRUN_TICK_VECS, rng]

    def count_sem(idx):
        return len(idx.vectors.batches()) + len(idx.dups.history())

    out["semdedup_stream_policy_longrun"] = _longrun_arms(
        mk_sem, upd_sem, count_sem)

    # --- IVFADC maintainer ---------------------------------------------------
    def mk_pq(ce, budget=None):
        rng = np.random.default_rng(23)
        d = tempfile.mkdtemp(prefix=f"longrun_pq_{ce}_")
        idx = IncrementalIvfPqIndex(spark, os.path.join(d, "ix"),
                                    compact_every=ce,
                                    fold_budget_sec=budget)
        idx.train(src, n_cells=_ivf_cells(LONGRUN_PRELOAD))
        bid, done = preload(idx, rng)
        state[id(idx)] = [bid, done, rng]
        return idx, None

    def count_pq(idx):
        return len(idx.vectors.batches())

    def upd_pq(idx, _c):
        bid, done, rng = state[id(idx)]
        pick = rng.integers(0, len(vecs), size=LONGRUN_TICK_VECS)
        rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
        idx.update(spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"), bid)
        state[id(idx)] = [bid + 1, done + LONGRUN_TICK_VECS, rng]

    out["ivfpq_stream_policy_longrun"] = _longrun_arms(
        mk_pq, upd_pq, count_pq)
    return out


BM25_LONGRUN_PRELOAD = 15_000   # docs (the 3x axis point)
BM25_LONGRUN_TICK_DOCS = 250    # the axis' timed micro-batch size


def run_policy_longrun_aux(spark) -> dict:
    """bm25/ivf_stream_policy_longrun: the same two-arm long-run for the
    remaining two stream maintainers (the text index and the exact-vector
    IVF), completing the policy coverage across all four incremental
    indexes — the round-7 VERDICT asked for at least SemDeDup and IVFADC;
    these two make the policy's flat-unattended claim uniform."""
    import numpy as np

    from moc_indexer_spark.streaming.bm25_stream import (
        IncrementalBm25Index,
    )
    from moc_indexer_spark.streaming.bm25_stream import (
        compact_index as bm25_compact,
    )
    from moc_indexer_spark.streaming.ivf_stream import IncrementalIvfIndex

    out = {}
    state = {}

    # --- BM25 maintainer -----------------------------------------------------
    texts = [r.text for r in spark.read.parquet(
        f"{SF01}/documents.parquet").select("text").collect()]

    def mk_bm25(ce, budget=None):
        rng = np.random.default_rng(29)
        d = tempfile.mkdtemp(prefix=f"longrun_bm25_{ce}_")
        idx = IncrementalBm25Index(spark, os.path.join(d, "ix"),
                                   compact_every=ce,
                                   fold_budget_sec=budget)
        bid = 0
        for ids, txts in _doc_batches(rng, texts, 0, BM25_LONGRUN_PRELOAD,
                                      LOAD_BATCH_DOCS):
            idx.update(spark.createDataFrame(
                list(zip(ids, txts)), "doc_id long, text string"), bid)
            bid += 1
        # identical folded start for both arms (see _vec_preload)
        bm25_compact(idx)
        state[id(idx)] = [bid, BM25_LONGRUN_PRELOAD, rng]
        return idx, None

    def upd_bm25(idx, _c):
        bid, done, rng = state[id(idx)]
        ids, txts = next(_doc_batches(rng, texts, done,
                                      BM25_LONGRUN_TICK_DOCS,
                                      BM25_LONGRUN_TICK_DOCS))
        idx.update(spark.createDataFrame(
            list(zip(ids, txts)), "doc_id long, text string"), bid)
        state[id(idx)] = [bid + 1, done + BM25_LONGRUN_TICK_DOCS, rng]

    def count_bm25(idx):
        return sum(len(log.batches()) for log in idx.logs.values())

    out["bm25_stream_policy_longrun"] = _longrun_arms(
        mk_bm25, upd_bm25, count_bm25,
        preload=BM25_LONGRUN_PRELOAD, tick=BM25_LONGRUN_TICK_DOCS,
        tick_key="tick_docs")

    # --- exact-vector IVF maintainer ----------------------------------------
    src = spark.read.parquet(f"{SF01}/embeddings.parquet")
    vecs = [list(r.embedding) for r in src.select("embedding").collect()]

    def mk_ivf(ce, budget=None):
        rng = np.random.default_rng(31)
        d = tempfile.mkdtemp(prefix=f"longrun_ivf_{ce}_")
        idx = IncrementalIvfIndex(spark, os.path.join(d, "ix"),
                                  compact_every=ce,
                                  fold_budget_sec=budget)
        idx.train(src, n_cells=_ivf_cells(LONGRUN_PRELOAD))
        bid, done = _vec_preload(spark, idx, rng, vecs)
        state[id(idx)] = [bid, done, rng]
        return idx, None

    def upd_ivf(idx, _c):
        bid, done, rng = state[id(idx)]
        pick = rng.integers(0, len(vecs), size=LONGRUN_TICK_VECS)
        rows = [(done + j, vecs[int(p)]) for j, p in enumerate(pick)]
        idx.update(spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"), bid)
        state[id(idx)] = [bid + 1, done + LONGRUN_TICK_VECS, rng]

    def count_ivf(idx):
        return len(idx.vectors.batches())

    out["ivf_stream_policy_longrun"] = _longrun_arms(
        mk_ivf, upd_ivf, count_ivf)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--only", default="",
                    help="comma list of axes: bm25,ivf,ivfpq,semdedup,"
                         "textdedup,funnel,longrun_aux,"
                         "longrun")
    args = ap.parse_args()

    from moc_indexer_spark.session import get_spark, ship_package

    spark = get_spark(app_name="scale-curve-stream")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    only = set(args.only.split(",")) if args.only else None
    results = {}
    if only is None or "bm25" in only:
        results.update(run_bm25(spark, args.runs))
    if only is None or "ivf" in only:
        results.update(run_ivf(spark, args.runs))
    if only is None or "ivfpq" in only:
        results.update(run_ivfpq(spark, args.runs))
    if only is None or "semdedup" in only:
        results.update(run_semdedup(spark, args.runs))
    if only is not None and "longrun" in only:
        results.update(run_policy_longrun(spark))
    if only is not None and "longrun_aux" in only:
        results.update(run_policy_longrun_aux(spark))
    if only is not None and "textdedup" in only:
        results.update(run_textdedup(spark, args.runs))
    if only is not None and "funnel" in only:
        results.update(run_funnel(spark, args.runs))

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CURVE.json",
    )
    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            doc = json.load(fh)
    merged = doc.get("stream_results", {})
    merged.update(results)
    doc["stream_results"] = merged
    # Merge, never overwrite: semdedup_1m_point.py / ivf_1m_point.py append
    # saturation points into these axes, and a later rerun of this script
    # must not clobber them. Only touch the axes actually run.
    scales = doc.setdefault("stream_scales", {})
    if only is None or "bm25" in only:
        scales["bm25_docs"] = BM25_SIZES
    if only is None or only & {"ivf", "ivfpq"}:
        scales["ivf_vectors"] = IVF_SIZES
    if only is None or "semdedup" in only:
        scales["semdedup_vectors"] = SEMDEDUP_SIZES
    if only is not None and "textdedup" in only:
        scales["textdedup_docs"] = TEXTDEDUP_SIZES
    if only is not None and "funnel" in only:
        scales["funnel_docs"] = FUNNEL_SIZES
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(json.dumps({"written": out_path}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
