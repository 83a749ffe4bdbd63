"""Off-tick fold deferral (round 10): with `fold_budget_sec`, a due
minor fold is SKIPPED when the tick's own work already consumed the
budget — counted in `folds.deferred` — and the still-crossed threshold
fires it on a later tick where the budget allows. The semantics are
physical-only: folding never changes answers (pinned by the existing
fold-invariance tests), so these tests pin the POLICY mechanics:
budget 0 defers every due fold, budget None folds unconditionally, and
a deferred fold still runs once the budget permits. The `FoldScheduler`
tests pin the shared policy itself on fake counter units, without Spark.
"""

import time

import pytest

from moc_indexer_spark.streaming.compaction import FoldScheduler
from moc_indexer_spark.streaming.corpus import IncrementalNearDup
from moc_indexer_spark.streaming.semdedup_stream import IncrementalSemDeDup


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


class _Unit:
    """A fake fold unit: a plain counter that its fold resets."""

    def __init__(self, name, n=0):
        self.name, self.n, self.folds = name, n, 0

    def fold(self):
        self.n, self.folds = 0, self.folds + 1

    def spec(self):
        return (self.name, lambda: self.n, self.fold)


def _scheduler(units, threshold=2, budget_sec=None):
    return FoldScheduler(tuple(u.spec() for u in units), threshold,
                         budget_sec)


def test_scheduler_folds_one_unit_per_call_round_robin():
    a, b, c = _Unit("a", 2), _Unit("b", 5), _Unit("c", 1)
    s = _scheduler((a, b, c))
    # a and b are due (count >= threshold); only the first one folds
    assert s.maybe_fold_one() == "a"
    assert (a.folds, b.folds, c.folds) == (1, 0, 0)
    assert s.maybe_fold_one() == "b"
    assert s.maybe_fold_one() is None  # c sits one below the threshold
    # every unit due again: the cursor sits on c, the slot after b
    a.n = b.n = c.n = 2
    assert [s.maybe_fold_one() for _ in range(4)] == ["c", "a", "b", None]
    assert s.deferred == 0


def test_scheduler_cursor_moves_to_the_slot_after_the_folded_unit():
    a, b, c, d = _Unit("a"), _Unit("b"), _Unit("c", 2), _Unit("d")
    s = _scheduler((a, b, c, d))
    assert s.maybe_fold_one() == "c"  # skips a and b, folds c
    b.n = d.n = 2
    # the cursor moved past c, not one slot on from a: d before b
    assert s.maybe_fold_one() == "d"
    assert s.maybe_fold_one() == "b"


def test_scheduler_zero_budget_defers_without_moving_the_cursor():
    a, b, c = _Unit("a", 2), _Unit("b", 2), _Unit("c")
    s = _scheduler((a, b, c), budget_sec=0.0)
    spent = time.perf_counter() - 1.0
    assert s.maybe_fold_one(spent) is None
    assert s.deferred == 1 and (a.folds, b.folds) == (0, 0)
    # lifting the budget fires the deferred fold where the cursor stayed
    s.budget_sec = None
    assert s.maybe_fold_one(spent) == "a"
    # with a budget but no tick reference, nothing is deferred
    s.budget_sec = 0.0
    assert s.maybe_fold_one() == "b"
    assert s.deferred == 1


def test_scheduler_without_budget_folds_unconditionally():
    a = _Unit("a", 2)
    s = _scheduler((a,), budget_sec=None)
    assert s.maybe_fold_one(time.perf_counter() - 1e6) == "a"
    assert a.folds == 1 and s.deferred == 0


def test_scheduler_without_threshold_never_folds():
    a = _Unit("a", 10**9)
    s = _scheduler((a,), threshold=None, budget_sec=0.0)
    assert s.maybe_fold_one(time.perf_counter() - 1.0) is None
    assert a.folds == 0 and s.deferred == 0


def _doc_batch(spark, start, n=4):
    rows = [
        (start + i,
         f"alpha beta gamma delta epsilon zeta eta theta doc {start + i} "
         "the quick brown fox jumps over the lazy dog again and again")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardedup_budget_zero_defers_then_folds(spark, workdir):
    idx = IncrementalNearDup(
        spark, f"{workdir}/near", compact_every=2, fold_budget_sec=0.0
    )
    for b in range(3):
        idx.update(_doc_batch(spark, 100 * b), b)
    # every due fold deferred: flat dirs accreted past the threshold
    assert idx.folds.deferred >= 1
    flats = [
        b for b in idx.logs["feats"].batches()
        if b != idx.logs["feats"].base()
    ]
    assert len(flats) >= 2
    # lift the budget: the crossed threshold fires on the next check
    idx.folds.budget_sec = None
    assert idx.folds.maybe_fold_one() is not None


def test_neardedup_no_budget_folds_unconditionally(spark, workdir):
    idx = IncrementalNearDup(spark, f"{workdir}/near", compact_every=2)
    for b in range(3):
        idx.update(_doc_batch(spark, 100 * b), b)
    assert idx.folds.deferred == 0
    # at least one unit folded under pressure (bands/feats/pairs round-
    # robin; each tick folds at most one)
    folds = [
        b for b in idx.logs["feats"].batches()
        if b == idx.logs["feats"].base()
    ] + [
        b for b in idx.logs["bands"].batches()
        if b == idx.logs["bands"].base()
    ]
    assert folds


def _vec_batch(spark, start, n=8):
    rows = [
        (start + i, [float((start + i) % 7), float((start + i) % 5), 1.0])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_budget_zero_defers_then_folds(spark, workdir):
    idx = IncrementalSemDeDup(
        spark, f"{workdir}/sem", compact_every=2, fold_budget_sec=0.0
    )
    idx.train(_vec_batch(spark, 0, 32), threshold=0.2)
    for b in range(3):
        idx.update(_vec_batch(spark, 1000 * (b + 1)), b)
    assert idx.folds.deferred >= 1
    flats = [
        b for b in idx.vectors.batches()
        if b != idx.vectors.base()
    ]
    assert len(flats) >= 2
    idx.folds.budget_sec = None
    assert idx.folds.maybe_fold_one() is not None


def test_funnel_threads_composed_tick_start_into_budgets(spark, workdir):
    """Round-10 soak finding: a funnel-scale fold budget must gate on
    the COMPOSED tick's elapsed, not each maintainer's own slice (a
    10 s budget never fired against 1-3 s per-maintainer slices inside
    8-12 s composed ticks). Pin the wiring: process_batch passes its
    own tick start into the maintainers' updates, and a budget of 0
    defers the due near-dup fold, observably."""
    from moc_indexer_spark.streaming.funnel import StreamingCurationFunnel

    funnel = StreamingCurationFunnel(
        spark, f"{workdir}/state", compact_every=1, fold_budget_sec=0.0
    )
    seen = {}
    orig = funnel.near.update

    def spy(df, bid, tick_start=None):
        seen["tick_start"] = tick_start
        return orig(df, bid, tick_start=tick_start)

    funnel.near.update = spy
    rows = [
        (i,
         f"alpha beta gamma delta epsilon zeta eta theta doc {i} "
         "the quick brown fox jumps over the lazy dog again and again",
         "en", "srcX")
        for i in range(6)
    ]
    schema = "doc_id long, text string, lang string, source string"
    for b in range(3):
        batch = spark.createDataFrame(
            [(100 * b + i,) + r[1:] for i, r in enumerate(rows)], schema
        )
        funnel.process_batch(batch, b)
    # the composed tick's start reached the maintainer...
    assert seen["tick_start"] is not None
    # ...and the zero budget deferred its due folds, counted
    assert funnel.near.folds.deferred >= 1
