"""Crash-consistent compaction swap protocol for batch-partitioned
streaming state (shared by the four index maintainers: BM25, IVF,
SemDeDup and near-dup).

Every maintainer appends one `batch=N` parquet directory per micro-batch —
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

WHERE the state lives is one class too, `BatchLog`: one relation
directory of `batch=N` dirs, each an overwrite-idempotent append. A dir
is committed once Spark's `_SUCCESS` is in it. The FOLD BASE is the
newest dir carrying an empty `_FOLDBASE` file; only a full fold (or the
first minor fold, while there is no base yet) writes one, so the base
holds every batch up to its id and the TAIL is every committed dir above
it. A minor fold merges the tail into one flat dir and leaves the base
alone. A read is two cached relations, the base group and the tail
group (a vector log's base is `cell`-partitioned while its tail is flat,
and one scan cannot discover both layouts), each keyed by its exact
batch-id group; a fold drops only the entries whose group touches the
range it swept, so the base's listing survives every minor fold. Past
8 cached groups the tail groups are evicted, never the base group: it
leaves the cache only through a fold or a recovered crashed swap.
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


_FOLD_BASE = "_FOLDBASE"
_RETIRED_FOLD_LEVEL = "_FOLDLEVEL"


class BatchLog:
    """One append-only `batch=N` relation directory of an index
    maintainer: its commit listing, its fold base, its relation cache and
    its folds (layout and cache rule in the module docstring).

    The owners differ only in data: `partition_by` names the column a
    base is partitioned by (`cell` for the vector logs, whose tail stays
    flat so a cell predicate pushes to its row groups);
    `batches_per_file` makes a fold write one file per that many folded
    dirs instead of one file; `unique_ids` runs the `assert_unique_ids`
    tripwire on the first column of every fold's input.

    Cache safety: batch ids are monotonic and a committed dir's files are
    immutable between folds, so a batch-id group always names the same
    files, EXCEPT across a fold, which rewrites `batch=<committed>` in
    place (a singleton tail group `(N,)` read inside the fold would alias
    the folded `(N,)`). A fold therefore drops every group touching its
    range, and a recovered crashed swap (whose range may be wider) clears
    the whole cache. An uncommitted partial dir is never listed."""

    def __init__(
        self,
        spark,
        path: str,
        partition_by: str | None = None,
        batches_per_file: int | None = None,
        unique_ids: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by
        self.batches_per_file = batches_per_file
        self.unique_ids = unique_ids
        self._cache: dict[tuple, DataFrame] = {}
        # a crash inside an in-tick fold leaves the swept originals in
        # __fold_trash; healed here, or every update until the next fold
        # would read a hole in the state
        heal_batched_dir(path)
        for b in self.batches():
            names = os.listdir(self._dir(b))
            if _RETIRED_FOLD_LEVEL in names:
                raise ValueError(
                    f"{self._dir(b)} marks its fold base with the retired "
                    f"{_RETIRED_FOLD_LEVEL} file: replace it with an empty "
                    f"{_FOLD_BASE} file"
                )
            if any("=" in n for n in names) and _FOLD_BASE not in names:
                raise ValueError(
                    f"{self._dir(b)} is a partitioned fold base without a "
                    f"{_FOLD_BASE} file: add an empty {_FOLD_BASE} file "
                    "to it"
                )

    def _dir(self, batch_id: int) -> str:
        return f"{self.path}/batch={batch_id}"

    def append(self, batch_id: int, df: DataFrame) -> None:
        """Commit `df` as `batch=<batch_id>` (an overwrite, so a replay
        rewrites the same dir)."""
        df.write.mode("overwrite").parquet(self._dir(batch_id))

    def batches(self) -> list[int]:
        return list_committed_batches(self.path)

    def last(self) -> int:
        b = self.batches()
        return b[-1] if b else -1

    def _scan(self) -> tuple[list[int], int]:
        ids = self.batches()
        marked = [b for b in ids
                  if os.path.exists(f"{self._dir(b)}/{_FOLD_BASE}")]
        return ids, (marked[-1] if marked else -1)

    def base(self) -> int:
        """Id of the fold base, -1 if there is none."""
        return self._scan()[1]

    def tail_count(self, upto: int) -> int:
        """Committed dirs in (base, upto]: cheap listdirs, no data read
        (what `FoldScheduler` counts)."""
        ids, base = self._scan()
        return sum(1 for b in ids if base < b <= upto)

    def read(self, upto: int, above: int = -1) -> DataFrame | None:
        """Committed dirs in (above, upto] (None if there are none): the
        base group and the tail group, each one cached relation, unioned
        by name."""
        ids, base = self._scan()
        ids = [b for b in ids if above < b <= upto]
        parts = [
            self._relation(group, base)
            for group in (tuple(b for b in ids if b <= base),
                          tuple(b for b in ids if b > base))
            if group
        ]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def _relation(self, group: tuple, base: int) -> DataFrame:
        df = self._cache.get(group)
        if df is None:
            if len(self._cache) > 8:
                # every read names a new tail group; the base group's
                # listing is the O(cells) one, so it stays
                for g in [g for g in self._cache if g[-1] > base]:
                    del self._cache[g]
            df = self.spark.read.parquet(*[self._dir(b) for b in group])
            self._cache[group] = df
        return df

    def fold(self, committed: int, minor: bool = False) -> int:
        """Fold the committed dirs up to `committed` into one dir at
        `committed`; returns `compact_batched_dir`'s count. A minor fold
        merges only the tail above the base into one flat dir (the
        in-tick form: O(cadence) rows whatever the index size); a full
        fold, or a minor fold with no base yet, writes a new marked base
        (the full fold is the out-of-band form)."""
        lo = self.base() if minor else -1
        writes_base = lo < 0

        def _read(upto: int) -> DataFrame:
            df = self.read(upto, above=lo)
            if self.unique_ids:
                # a minor fold checks its own range; cross-level
                # duplicates are covered by the full fold
                assert_unique_ids(df, df.columns[0], f"fold({self.path})")
            return df

        def _write(df: DataFrame, tmp: str, n: int) -> None:
            if writes_base and self.partition_by:
                # the partition-keyed shuffle bounds the fold at one
                # file per value (without it each read task writes one
                # file per value it holds, and the next fold reads all
                # of them)
                (df.repartition(self.partition_by).write.mode("overwrite")
                 .partitionBy(self.partition_by).parquet(tmp))
            else:
                files = (max(1, n // self.batches_per_file)
                         if self.batches_per_file else 1)
                df.coalesce(files).write.mode("overwrite").parquet(tmp)
            if writes_base:
                open(os.path.join(tmp, _FOLD_BASE), "w").close()

        folded = compact_batched_dir(
            self.path, committed, self.batches, _read, _write,
            min_batch=lo, on_recovered=self._cache.clear,
        )
        if folded:
            for group in [g for g in self._cache
                          if any(lo < b <= committed for b in g)]:
                del self._cache[group]
        return folded


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
