"""`compaction.BatchLog`, the `batch=N` relation log every index
maintainer keeps its append-only state in: replayed appends overwrite,
the tail count the fold policy reads, the marked fold base, the cached
base relation that survives a minor fold, and the refusal of the
retired fold markers."""

import os

import pytest

from moc_indexer_spark.streaming.compaction import _FOLD_BASE, BatchLog


def _frame(spark, ids):
    return spark.createDataFrame(
        [(i, i % 3) for i in ids], "id long, cell int"
    ).coalesce(1)


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "cell").collect())


def _want(ids):
    return sorted((i, i % 3) for i in ids)


def test_batch_log_appends_counts_tail_and_folds(spark, tmp_path):
    log = BatchLog(spark, str(tmp_path / "log"))
    log.append(0, _frame(spark, [1, 2]))
    log.append(0, _frame(spark, [1, 2, 3]))  # a replay overwrites
    assert log.batches() == [0] and log.last() == 0
    assert _rows(log.read(0)) == _want([1, 2, 3])
    for b in (1, 2):
        log.append(b, _frame(spark, [10 * b]))
    assert log.base() == -1
    assert (log.tail_count(1), log.tail_count(2)) == (2, 3)

    # the first minor fold has no base to merge above: it writes the base
    assert log.fold(2, minor=True) == 2
    assert log.batches() == [2] and log.base() == 2
    assert os.path.exists(f"{log.path}/batch=2/{_FOLD_BASE}")
    assert log.tail_count(2) == 0
    base_df = log.read(2)

    for b in (3, 4):
        log.append(b, _frame(spark, [10 * b]))
    assert log.tail_count(4) == 2
    # a later minor fold merges the tail into one unmarked dir, leaves
    # the base in place and keeps its cached relation
    assert log.fold(4, minor=True) == 1
    assert log.batches() == [2, 4] and log.base() == 2
    assert not os.path.exists(f"{log.path}/batch=4/{_FOLD_BASE}")
    assert log.tail_count(4) == 1
    assert log.read(2) is base_df
    assert _rows(log.read(4)) == _want([1, 2, 3, 10, 20, 30, 40])
    assert _rows(log.read(4, above=2)) == _want([30, 40])

    # a full fold re-merges everything into a new base
    assert log.fold(4) == 1
    assert log.batches() == [4] and log.base() == 4
    assert log.tail_count(4) == 0
    assert _rows(log.read(4)) == _want([1, 2, 3, 10, 20, 30, 40])


def test_partitioned_batch_log_reads_base_and_flat_tail(spark, tmp_path):
    log = BatchLog(spark, str(tmp_path / "vec"), partition_by="cell",
                   unique_ids=True)
    for b in range(3):
        log.append(b, _frame(spark, [3 * b, 3 * b + 1]))
    log.fold(2)
    names = os.listdir(f"{log.path}/batch=2")
    assert _FOLD_BASE in names and any(n.startswith("cell=") for n in names)
    for b in (3, 4):
        log.append(b, _frame(spark, [3 * b]))
    log.fold(4, minor=True)
    assert not any(
        n.startswith("cell=") for n in os.listdir(f"{log.path}/batch=4")
    )
    assert _rows(log.read(4)) == _want([0, 1, 3, 4, 6, 7, 9, 12])
    # an id stored twice is the tripwire's case
    log.append(5, _frame(spark, [0]))
    with pytest.raises(ValueError, match="id=0"):
        log.fold(5)


def test_retired_fold_level_marker_is_refused(spark, tmp_path):
    """A near-dup fold base marked with the retired `_FOLDLEVEL` file
    would be read as tail and folded again; it is refused at open, and
    renaming the file to `_FOLDBASE` opens it."""
    p = str(tmp_path / "log")
    _frame(spark, [1, 2]).write.parquet(f"{p}/batch=0")
    open(f"{p}/batch=0/_FOLDLEVEL", "w").close()
    with pytest.raises(ValueError, match=f"replace it with an empty {_FOLD_BASE}"):
        BatchLog(spark, p)
    os.replace(f"{p}/batch=0/_FOLDLEVEL", f"{p}/batch=0/{_FOLD_BASE}")
    log = BatchLog(spark, p)
    assert log.base() == 0 and _rows(log.read(0)) == _want([1, 2])


def test_unmarked_partitioned_base_is_refused(spark, tmp_path):
    """A cell-partitioned vector base without `_FOLDBASE` would be read
    in one relation with the flat tail, and the two layouts cannot share
    one partition discovery. It is refused at open; adding the marker
    opens it."""
    p = str(tmp_path / "vec")
    _frame(spark, [1, 2]).write.partitionBy("cell").parquet(f"{p}/batch=0")
    _frame(spark, [3]).write.parquet(f"{p}/batch=1")
    with pytest.raises(ValueError, match=f"add an empty {_FOLD_BASE}"):
        BatchLog(spark, p, partition_by="cell")
    open(f"{p}/batch=0/{_FOLD_BASE}", "w").close()
    log = BatchLog(spark, p, partition_by="cell")
    assert _rows(log.read(1)) == _want([1, 2, 3])


def test_tail_reads_keep_the_cached_base(spark, tmp_path):
    """Every read past the base names a new tail group. Past the cache's
    8 groups the tail groups are evicted, never the base group, whose
    listing is the O(cells) one of a vector log."""
    log = BatchLog(spark, str(tmp_path / "log"))
    for b in range(3):
        log.append(b, _frame(spark, [b]))
    log.fold(2)
    base_df = log.read(2)
    for b in range(3, 15):
        log.append(b, _frame(spark, [b]))
        assert _rows(log.read(b, above=2)) == _want(range(3, b + 1))
    assert len(log._cache) <= 9
    assert log.read(2) is base_df
    assert _rows(log.read(14)) == _want(range(15))
