"""Crash-consistent compaction swap protocol for batch-partitioned
streaming state (shared by the BM25 and IVF incremental indexes).

Both indexes append one `batch=N` parquet directory per micro-batch —
idempotent and exactly-once, but at cluster scale thousands of tiny
partitions destroy probe scan throughput the same way small files do.
Compaction folds every batch <= the committed id into ONE partition at
that id, under the single-writer lock, with a recoverable copy at every
step:

1. write the fold to `<base>__fold_tmp` (originals untouched; Spark's
   _SUCCESS marks it complete) and record the committed id it covers in
   a `_FOLD_COMMITTED` marker file inside tmp;
2. move superseded originals (batch <= fold id ONLY) into
   `<base>__fold_trash`;
3. one os.replace installs the fold as `batch=<fold id>`, then the
   marker file is removed from the installed partition (it is only
   needed while tmp exists — a live partition must not carry a stale
   commit marker for non-Spark readers);
4. delete trash.

Recovery on the next call distinguishes every crash window:

* trash exists, tmp gone       -> the swap completed (tmp was consumed
  by the rename); just delete trash. Restoring from trash here would
  resurrect superseded batches next to the fold and double every row.
* trash exists, tmp has marker -> complete the swap at the RECORDED id:
  safe even if update() committed newer batches since the crash,
  because only batches <= the fold's id are swept/replaced.
* trash exists, tmp incomplete -> the fold is lost or unidentifiable;
  roll the originals back and rebuild.

Contract: an OUT-OF-BAND maintenance action — do not run concurrently
with update(); lazy probe plans built before compaction are invalidated
(fresh probes resolve the current directories), the same reader
contract as Delta VACUUM.

WHEN to fold inside a tick is one policy too, `FoldScheduler`: each
owner (the Indexer's six sinks, the BM25 / IVF / semdedup / near-dup
maintainers, the funnel's docs and corpus tables) lists its fold units
as (name, count, fold) and calls `folds.maybe_fold_one(tick_start)`
once per tick — a threshold on a cheap count, at most one fold per
tick behind a round-robin cursor, deferred when the tick already used
up its `fold_budget_sec`.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame

_FOLD_MARKER = "_FOLD_COMMITTED"


class FoldScheduler:
    """THE in-tick fold policy, shared by the Indexer, the four index
    maintainers and the funnel: fold AT MOST ONE unit per call, so a tick
    never absorbs two rewrites.

    `units` is a tuple of `(name, count_fn, fold_fn)`, owned by the
    caller (it knows what to count and what to fold). A unit is due when
    `count_fn()` (a cheap listdir, no data read) reaches `threshold`; the
    first due unit from a round-robin cursor folds and the cursor moves
    to the slot after it, so units that cross together queue and fold on
    the following ticks. `threshold=None` is no policy (never folds).

    `budget_sec` is the OFF-TICK DEFERRAL rule: when the tick started at
    `tick_start` (a `time.perf_counter()` value) already used up the
    budget, a due fold is skipped and counted in `deferred`, the cursor
    does not move, and the still-crossed threshold fires it on a later,
    faster tick — maintenance never stacks on an already-slow tick and
    pushes it over the operator's envelope. `budget_sec=None` (or no
    `tick_start`) folds unconditionally. What counts as the tick's
    elapsed is the caller's `tick_start`: the funnel threads its
    COMPOSED tick's start into every maintainer (funnel.process_batch)."""

    def __init__(self, units, threshold: int | None,
                 budget_sec: float | None = None):
        self.units = tuple(units)
        self.threshold = threshold
        self.budget_sec = budget_sec
        self.deferred = 0
        self._cursor = 0

    def maybe_fold_one(self, tick_start: float | None = None) -> str | None:
        """Fold the first due unit; return its name, or None when nothing
        was due, there is no policy, or the due fold was deferred."""
        if self.threshold is None:
            return None
        n = len(self.units)
        for k in range(n):
            name, count, fold = self.units[(self._cursor + k) % n]
            if count() >= self.threshold:
                if (
                    self.budget_sec is not None
                    and tick_start is not None
                    and time.perf_counter() - tick_start > self.budget_sec
                ):
                    self.deferred += 1
                    return None
                fold()
                self._cursor = (self._cursor + k + 1) % n
                return name
        return None


_BATCH_RE = re.compile(r"^batch=(\d+)$")


def list_committed_batches(d: str) -> list[int]:
    """Sorted batch ids under `d` whose partition write COMPLETED (Spark's
    _SUCCESS present) — the shared commit-resolution rule of every
    batch-partitioned index (BM25, IVF, IVFADC). A dir without _SUCCESS is
    a crashed write: invisible to readers, overwritten by the retry."""
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        m = _BATCH_RE.match(f)
        if m and os.path.exists(os.path.join(d, f, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def read_batches_upto(spark, d: str, upto: int, with_batch_col: bool = False):
    """Union of all committed `batch=N <= upto` partitions under `d`
    (None if empty). with_batch_col=True reads with basePath so the batch
    id is available as a partition column."""
    batches = [b for b in list_committed_batches(d) if b <= upto]
    if not batches:
        return None
    reader = spark.read
    if with_batch_col:
        reader = reader.option("basePath", d)
    return reader.parquet(*[f"{d}/batch={b}" for b in batches])


def assert_unique_ids(df: DataFrame, id_col: str, context: str) -> None:
    """Maintenance-time invariant: the folded state must hold one row per
    id. The cell-pruned anti-joins in the vector maintainers (ivf_stream,
    semdedup_stream) assume redelivered ids carry an UNCHANGED payload —
    an id re-sent with a different payload lands in a different cell,
    escapes the pruned anti-join, and silently duplicates vector state.
    That is out-of-contract (upstream correction -> rebuild), but a
    violation should surface here, during out-of-band compact(), instead
    of silently corrupting probe/dedup results. One bounded aggregate
    (limit(1)) on the maintenance path; never on the per-batch hot path."""
    from pyspark.sql import functions as F

    dup = (
        df.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{context}: duplicate {id_col}={dup[0][0]} in folded state — "
            "an id was redelivered with a changed payload (out of the "
            "maintainer contract); rebuild the index from the corrected "
            "source"
        )


def compact_batched_dir(
    base: str,
    committed: int,
    list_batches: Callable[[], list[int]],
    read_upto: Callable[[int], DataFrame],
    write_fold: Callable[[DataFrame, str, int], None],
    min_batch: int = -1,
    on_recovered: Callable[[], None] | None = None,
) -> int:
    """Fold every `batch=N` with `min_batch < N <= committed` under
    `base` into one partition at `batch=<committed>`. Returns the number
    of partitions folded away; a nonzero return ALSO covers a
    recovery-completed crashed swap (callers key their relation-cache
    invalidation on it).

    `min_batch=-1` (default) is the FULL fold. A caller passing the id
    of its newest existing fold gets a MINOR fold — the tiered-
    compaction shape: only the small post-fold tail is read and
    rewritten (O(maintenance cadence) work, bounded regardless of index
    size), earlier folds stay in place as levels, and the marker records
    both bounds so a crashed minor swap can never sweep an earlier
    level into trash. `read_upto` must respect the caller's own range
    (this function only bounds the SWEEP); `write_fold(df, tmp,
    n_batches)` owns the fold write's layout (coalesce / partitionBy).
    `list_batches` must re-list the directory on each call (it is
    consulted again after recovery).

    `on_recovered` fires when the startup heal completed (or found
    already installed) a CRASHED swap — whose recorded bounds belong to
    the crashed run, not this call, and may be WIDER than this call's
    (min_batch, committed] range (e.g. a crashed FULL fold recovered
    during a later minor fold). A caller keying selective relation-cache
    invalidation on its own range must clear the ENTIRE cache here
    (ADVICE r9): cached relations over batches <= min_batch can point at
    part files the recovered swap deleted."""
    tmp = f"{base}__fold_tmp"
    trash = f"{base}__fold_trash"

    recovered_swap = heal_batched_dir(base, list_batches)
    if recovered_swap and on_recovered is not None:
        on_recovered()

    batches = [b for b in list_batches() if min_batch < b <= committed]
    if len(batches) <= 1:
        return 1 if recovered_swap else 0
    merged = read_upto(committed)
    write_fold(merged, tmp, len(batches))
    with open(os.path.join(tmp, _FOLD_MARKER), "w") as f:
        f.write(f"{min_batch} {committed}")
    _complete_swap(base, tmp, trash, list_batches, min_batch, committed)
    return len(batches) - 1


def _tmp_fold_bounds(tmp: str) -> tuple[int, int] | None:
    marker = os.path.join(tmp, _FOLD_MARKER)
    if not (os.path.exists(marker)
            and os.path.exists(os.path.join(tmp, "_SUCCESS"))):
        return None
    with open(marker) as f:
        parts = f.read().split()
    # legacy single-int markers (pre-minor-fold) are full folds
    return (int(parts[0]), int(parts[1])) if len(parts) == 2 \
        else (-1, int(parts[0]))


def _complete_swap(
    base: str, tmp: str, trash: str,
    list_batches: Callable[[], list[int]],
    fold_min: int, fold_committed: int,
) -> None:
    for b in [x for x in list_batches() if fold_min < x <= fold_committed]:
        os.makedirs(trash, exist_ok=True)
        os.replace(f"{base}/batch={b}", os.path.join(trash, f"batch={b}"))
    dest = f"{base}/batch={fold_committed}"
    os.replace(tmp, dest)
    try:
        os.remove(os.path.join(dest, _FOLD_MARKER))
    except FileNotFoundError:
        pass
    shutil.rmtree(trash, ignore_errors=True)


def heal_batched_dir(
    base: str, list_batches: Callable[[], list[int]] | None = None
) -> bool:
    """Complete or roll back a compaction swap a previous run crashed
    inside (the recovery-state matrix in the module docstring). Safe to
    call any time under the single-writer lock; compact_batched_dir runs
    it first, and the maintainers run it AT STARTUP — a crash inside an
    in-tick policy fold otherwise leaves the swept originals invisible
    in trash until the next fold happens to run, and every update in
    between would read a hole in the state. Returns True when a swap was
    installed (or found already installed), i.e. when batch=<fold id>
    was rewritten in place and any relation cache must be cleared."""
    if list_batches is None:
        list_batches = lambda: list_committed_batches(base)  # noqa: E731
    tmp = f"{base}__fold_tmp"
    trash = f"{base}__fold_trash"

    def _drop_stale_markers() -> None:
        # the marker is only needed while tmp exists (it identifies the
        # fold during recovery); once installed into the live partition it
        # is a stale commit marker to non-Spark readers — sweep any left
        # behind by a crash between the install rename and the removal
        for d in os.listdir(base) if os.path.isdir(base) else []:
            stale = os.path.join(base, d, _FOLD_MARKER)
            if d.startswith("batch=") and os.path.exists(stale):
                os.remove(stale)

    # a previous run crashed mid-flight iff trash exists
    recovered_swap = False
    if os.path.isdir(trash):
        bounds = _tmp_fold_bounds(tmp)
        if not os.path.isdir(tmp):
            shutil.rmtree(trash, ignore_errors=True)
            _drop_stale_markers()
            # tmp consumed by the rename => the crashed run DID install
            # its swap before dying; if that run was in THIS process, the
            # caller's relation cache predates the install — signal so it
            # clears (harmless extra clear after a process-death crash)
            recovered_swap = True
        elif bounds is not None:
            _complete_swap(base, tmp, trash, list_batches, *bounds)
            # batch=<fold> was rewritten IN PLACE (id reuse). Signal it
            # even if no fresh fold runs: a same-process caller
            # (in-process exception + retry, not process death) may hold
            # cached relations over the now-deleted original part files,
            # and its `if folded:` cache clear must fire (ADVICE r8).
            recovered_swap = True
        else:
            for d in os.listdir(trash):
                dst = os.path.join(base, d)
                if not os.path.isdir(dst):
                    os.replace(os.path.join(trash, d), dst)
            shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return recovered_swap
