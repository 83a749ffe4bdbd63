"""Merge-on-read sink: the fold cadence is physical, never semantic.

A lazy table (deltas accrete until compact_every) and an eager one
(compact_every=1: folded after every write) must be indistinguishable
through `read()` — same MERGE semantics (idempotent replay, version
guard, update-only, partial $set, retention delete) — and `compact()`
must be a no-op through the read view.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from moc_indexer_spark.streaming.sink import ParquetUpsertTable


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _snapshot(tbl):
    df = tbl.read()
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _scripted_ops(spark, tbl):
    """One op per merge feature; yields after each so parity is checked
    stepwise, not just on the final state."""
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    tbl.upsert(mk([(1, "a", 10), (2, "b", 10)], ["k", "v", "ver"]))
    yield "insert"
    tbl.upsert(mk([(1, "a2", 11), (3, "c", 11)], ["k", "v", "ver"]))
    yield "update+insert"
    tbl.upsert(mk([(1, "a2", 11), (3, "c", 11)], ["k", "v", "ver"]))
    yield "idempotent replay"
    tbl.upsert(mk([(1, "stale", 5)], ["k", "v", "ver"]))
    yield "version guard (stale dropped)"
    tbl.upsert(mk([(2, "b9", 99), (9, "ghost", 99)], ["k", "v", "ver"]),
               insert=False)
    yield "update-only (no ghost insert)"
    tbl.upsert(mk([(3, 20)], ["k", "ver"]))
    yield "partial $set (v kept)"
    tbl.delete_where(F.col("v") == "a2")
    yield "retention delete"
    tbl.upsert(mk([(1, "back", 30)], ["k", "v", "ver"]))
    yield "reinsert after delete"


def test_mor_equals_cow_stepwise(spark, workdir):
    """Eager (fold after every write) and lazy tables agree after every
    scripted op, and end in the state sequential Mongo upserts give."""
    eager = ParquetUpsertTable(spark, f"{workdir}/eager", keys=["k"],
                               version_col="ver", compact_every=1)
    lazy = ParquetUpsertTable(spark, f"{workdir}/lazy", keys=["k"],
                              version_col="ver")
    for (step_e, step_l) in zip(_scripted_ops(spark, eager),
                                _scripted_ops(spark, lazy)):
        assert _snapshot(eager) == _snapshot(lazy), step_e
        assert len(eager.history()) == 1, step_e
    assert _snapshot(eager) == [(1, "back", 30), (2, "b9", 99), (3, "c", 20)]
    assert len(lazy.history()) > 1


def test_mor_unversioned_last_writer_wins(spark, workdir):
    mor = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"])
    mor.upsert(spark.createDataFrame([(1, "x")], ["k", "v"]))
    mor.upsert(spark.createDataFrame([(1, "y")], ["k", "v"]))
    assert [(r.k, r.v) for r in mor.read().collect()] == [(1, "y")]


def test_mor_compact_preserves_view_and_drops_deltas(spark, workdir):
    mor = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"],
                             version_col="ver")
    for i in range(5):
        mor.upsert(spark.createDataFrame([(i % 2, f"v{i}", i)],
                                         ["k", "v", "ver"]))
    before = _snapshot(mor)
    assert len(mor._delta_seqs()) == 5
    mor.compact()
    # base keeps the highest folded seq so surviving history stays truthful
    assert mor._delta_seqs() == [4]
    assert _snapshot(mor) == before
    # folded-away history points must refuse, not serve future data
    with pytest.raises(ValueError, match="compaction"):
        mor.read(as_of_seq=2)
    assert _snapshot(mor) == sorted(
        tuple(r) for r in mor.read(as_of_seq=4).collect()
    )


def test_mor_auto_compacts_at_threshold(spark, workdir):
    mor = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"], compact_every=3)
    for i in range(4):
        mor.upsert(spark.createDataFrame([(i, "x")], ["k", "v"]))
    # 3rd upsert triggered compaction (base keeps seq 2); the 4th appended on top
    assert len(mor._delta_seqs()) <= 2
    assert mor.read().count() == 4


def test_stream_foreachbatch_into_mor_equals_batch(spark, workdir, sf_dir):
    """The streaming ingest (foreachBatch + checkpoint) appending lazy
    deltas must produce the same resolved table as the one-shot batch run,
    whose table folds after its write."""
    import os
    import shutil

    from moc_indexer_spark.streaming.pipeline import (
        run_batch, run_stream_available_now,
    )
    from moc_indexer_spark.tables import table

    events = table(spark, sf_dir, "events").orderBy("event_id").limit(200)
    src = f"{workdir}/src"
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 100), (100, 200)]):
        (events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
               .coalesce(1).write.mode("overwrite").parquet(f"{workdir}/stage"))
        for f_ in os.listdir(f"{workdir}/stage"):
            if f_.endswith(".parquet"):
                shutil.copy(f"{workdir}/stage/{f_}", f"{src}/slice{i}.parquet")
        run_stream_available_now(
            spark, src, f"{workdir}/out", f"{workdir}/ckpt",
            schema=events.schema,
        )
    mor = ParquetUpsertTable(spark, f"{workdir}/out", keys=["tx_hash"])
    batch = run_batch(spark, src, f"{workdir}/batch_out")
    cols = ["tx_hash", "address", "event", "created_at", "amount"]
    a = sorted(map(tuple, mor.read().select(*cols).collect()))
    b = sorted(map(tuple, batch.read().select(*cols).collect()))
    assert len(a) == 200 and a == b


def test_mor_read_resolution_is_single_shuffle(spark, workdir):
    """Latest-per-key resolution must cost exactly one hash shuffle on the
    key (the row_number window) — no joins, no extra exchanges — so MoR
    read overhead stays bounded between compactions."""
    mor = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"])
    for i in range(4):
        mor.upsert(spark.createDataFrame([(i % 2, f"v{i}")], ["k", "v"]))
    plan = mor.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_mor_time_travel_reads_past_states(spark, workdir):
    tbl = ParquetUpsertTable(spark, f"{workdir}/tt", keys=["k"])
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    tbl.upsert(mk([(1, "a"), (2, "b")]))          # seq 0
    tbl.upsert(mk([(2, "b2"), (3, "c")]))         # seq 1
    tbl.delete_where(F.col("k") == 1)             # seq 2 (tombstone)
    assert tbl.history() == [0, 1, 2]

    def snap(seq=None):
        return sorted(tuple(r) for r in tbl.read(as_of_seq=seq).collect())

    assert snap(0) == [(1, "a"), (2, "b")]
    assert snap(1) == [(1, "a"), (2, "b2"), (3, "c")]
    assert snap(2) == snap() == [(2, "b2"), (3, "c")]
    # the as-of scan prunes newer delta partitions (PartitionFilters on
    # __seq), so history reads don't pay for the future
    plan = tbl.read(as_of_seq=0)._jdf.queryExecution().executedPlan().toString()
    assert "__seq" in plan


def test_time_travel_on_eager_table_keeps_only_newest_seq(spark, workdir):
    """A table folded after every write keeps one history point: the
    folded seq raises, the newest seq answers."""
    tbl = ParquetUpsertTable(spark, f"{workdir}/eager", keys=["k"],
                             compact_every=1)
    tbl.upsert(spark.createDataFrame([(1, "a")], ["k", "v"]))
    tbl.upsert(spark.createDataFrame([(1, "a2"), (2, "b")], ["k", "v"]))
    assert tbl.history() == [1]
    with pytest.raises(ValueError, match="compaction"):
        tbl.read(as_of_seq=0)
    assert sorted(tuple(r) for r in tbl.read(as_of_seq=1).collect()) == [
        (1, "a2"), (2, "b")
    ]


def test_crashed_append_leaves_table_readable(spark, workdir, monkeypatch):
    """A crash between the delta write and its rename must not poison the
    table: staging happens OUTSIDE the table dir, so partition discovery
    never sees partial files."""
    import os

    tbl = ParquetUpsertTable(spark, f"{workdir}/crash", keys=["k"])
    tbl.upsert(spark.createDataFrame([(1, "a")], ["k", "v"]))

    real_rename = os.rename

    def boom(src, dst):
        if "__seq=1" in str(dst):
            raise OSError("simulated crash before rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        tbl.upsert(spark.createDataFrame([(2, "b")], ["k", "v"]))
    monkeypatch.undo()

    # table still fully readable and correct; retry succeeds
    assert [tuple(r) for r in tbl.read().collect()] == [(1, "a")]
    tbl.upsert(spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert sorted(tuple(r) for r in tbl.read().collect()) == [(1, "a"), (2, "b")]


def test_tombstone_flag_survives_restart(spark, workdir):
    """The update-only fast path (distinct-keys scan instead of per-key
    resolve) must survive a daemon restart: a marker-aware table with no
    tombstones restarts with the fast path; one that ever deleted
    restarts conservative; a table dir without the meta marker (older
    layout) restarts unknown."""
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    p = f"{workdir}/clean"
    t = ParquetUpsertTable(spark, p, keys=["k"])
    t.upsert(mk([(1, "a"), (2, "b")]))
    assert t._may_have_tombstones is False

    # restart: fresh instance over the same dir keeps the fast path
    t2 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t2._may_have_tombstones is False
    # and update-only through the restarted instance behaves correctly
    t2.upsert(mk([(2, "b2"), (9, "ghost")]), insert=False)
    got = {(r.k, r.v) for r in t2.read().collect()}
    assert got == {(1, "a"), (2, "b2")}

    # delete -> marker -> restart is conservative-correct
    t2.delete_where(F.col("k") == 1)
    t3 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t3._may_have_tombstones is True
    t3.upsert(mk([(1, "back"), (8, "ghost")]), insert=False)
    got = {(r.k, r.v) for r in t3.read().collect()}
    assert got == {(2, "b2")}  # deleted key 1 is NOT "existing"

    # older layout (no meta marker): unknown -> resolve path
    import os
    q = f"{workdir}/legacy"
    t4 = ParquetUpsertTable(spark, q, keys=["k"])
    t4.upsert(mk([(1, "a")]))
    os.remove(t4._marker("__meta"))
    t5 = ParquetUpsertTable(spark, q, keys=["k"])
    assert t5._may_have_tombstones is None
    t5.upsert(mk([(1, "a2"), (7, "ghost")]), insert=False)
    got = {(r.k, r.v) for r in t5.read().collect()}
    assert got == {(1, "a2")}


def test_tombstone_marker_crash_window_is_conservative(spark, workdir):
    """Crash between the tombstone marker and the tombstone delta: the
    marker claims tombstones that never landed. A restart must take the
    conservative resolve path (correct, just slower) — and the table
    itself must be unaffected (the delete never happened)."""
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    p = f"{workdir}/crashy"
    t = ParquetUpsertTable(spark, p, keys=["k"])
    t.upsert(mk([(1, "a"), (2, "b")]))

    real_append = t._append_delta

    def boom(batch):
        raise RuntimeError("crash before delta lands")

    t._append_delta = boom
    with pytest.raises(RuntimeError):
        t.delete_where(F.col("k") == 1)
    t._append_delta = real_append

    # restart: marker present, no tombstone delta -> conservative flag,
    # un-deleted data intact, update-only still correct
    t2 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t2._may_have_tombstones is True
    assert {(r.k, r.v) for r in t2.read().collect()} == {(1, "a"), (2, "b")}
    t2.upsert(mk([(1, "a2"), (9, "ghost")]), insert=False)
    assert {(r.k, r.v) for r in t2.read().collect()} == {(1, "a2"), (2, "b")}


def test_compacted_read_is_map_only(spark, workdir):
    """Post-compaction, the table is a single delta dir with unique keys,
    so read() must skip the per-key resolve entirely — no shuffle, no
    window. This is the steady read shape between maintenance runs: a
    compacted 10M-row table reads map-only."""
    mor = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"],
                             version_col="ver")
    for i in range(5):
        mor.upsert(spark.createDataFrame([(i % 3, f"v{i}", i)],
                                         ["k", "v", "ver"]))
    before = _snapshot(mor)
    mor.compact()
    assert _snapshot(mor) == before
    plan = mor.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_compact_restores_update_only_fast_path(spark, workdir):
    """A retention delete demotes the table to the conservative resolve
    path; compaction folds the tombstones away, so the fast path must come
    back — including across a restart — and update-only must still treat
    the deleted key as non-existing."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    p = f"{workdir}/t"
    t = ParquetUpsertTable(spark, p, keys=["k"])
    t.upsert(mk([(1, "a"), (2, "b")]))
    t.delete_where(F.col("k") == 1)
    assert t._may_have_tombstones is True
    assert os.path.exists(t._marker("__tombstones"))

    t.compact()
    assert t._may_have_tombstones is False
    assert not os.path.exists(t._marker("__tombstones"))

    # restart sees the restored fast path
    t2 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t2._may_have_tombstones is False
    # update-only: the compacted-away key 1 must NOT count as existing
    t2.upsert(mk([(1, "back"), (2, "b2")]), insert=False)
    assert {(r.k, r.v) for r in t2.read().collect()} == {(2, "b2")}


def test_compact_upgrades_legacy_table_to_marker_layout(spark, workdir):
    """A pre-marker-layout table (no __meta) restarts unknown; compaction
    proves it tombstone-free and upgrades it, so the NEXT restart gets the
    fast path."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    p = f"{workdir}/legacy"
    t = ParquetUpsertTable(spark, p, keys=["k"])
    t.upsert(mk([(1, "a")]))
    os.remove(t._marker("__meta"))
    t2 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t2._may_have_tombstones is None
    t2.compact()
    t3 = ParquetUpsertTable(spark, p, keys=["k"])
    assert t3._may_have_tombstones is False


def test_empty_delete_is_a_noop(spark, workdir):
    """A retention tick that matches nothing must not append a tombstone
    delta (it would permanently demote the fast path) nor fold an eager
    table. The common case under a 3 s retention cadence."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    # lazy: no new delta, no marker, fast path intact
    m = ParquetUpsertTable(spark, f"{workdir}/m", keys=["k"])
    m.upsert(mk([(1, "a")]))
    m.delete_where(F.col("k") == 99)
    assert m._delta_seqs() == [0]
    assert m._may_have_tombstones is False
    assert not os.path.exists(m._marker("__tombstones"))
    # eager: table files untouched (no O(table) no-op fold)
    c = ParquetUpsertTable(spark, f"{workdir}/c", keys=["k"], compact_every=1)
    c.upsert(mk([(1, "a")]))
    c.upsert(mk([(2, "b")]))
    mtime = os.path.getmtime(c.path)
    listing = sorted(os.listdir(c.path))
    c.delete_where(F.col("k") == 99)
    assert sorted(os.listdir(c.path)) == listing
    assert os.path.getmtime(c.path) == mtime


def test_mor_reinsert_lower_version_after_delete(spark, workdir):
    """A delete ends the key's version era (Mongo: the document is gone,
    any later upsert inserts fresh). The tombstone carries the deleted
    row's version, so a lower-version reinsert must still win — a lazy
    table must not let the tombstone shadow the live era."""
    got = {}
    for ce in (1, 64):
        t = ParquetUpsertTable(spark, f"{workdir}/{ce}", keys=["k"],
                               version_col="ver", compact_every=ce)
        t.upsert(spark.createDataFrame([(1, "a", 11)], ["k", "v", "ver"]))
        t.delete_where(F.col("k") == 1)
        t.upsert(spark.createDataFrame([(1, "back", 3)], ["k", "v", "ver"]))
        # and the guard still applies WITHIN the new era
        t.upsert(spark.createDataFrame([(1, "stale", 2)], ["k", "v", "ver"]))
        got[ce] = sorted(tuple(r) for r in t.read().collect())
    assert got[64] == got[1] == [(1, "back", 3)]


def test_mor_era_reset_survives_compaction_boundary(spark, workdir):
    """Era semantics must hold whether the tombstone is an uncompacted
    delta or already folded: compaction drops the deleted key, so the
    reinsert lands in an empty era either way."""
    t = ParquetUpsertTable(spark, f"{workdir}/t", keys=["k"],
                           version_col="ver")
    t.upsert(spark.createDataFrame([(1, "a", 11), (2, "b", 5)],
                                   ["k", "v", "ver"]))
    t.delete_where(F.col("k") == 1)
    t.compact()
    t.upsert(spark.createDataFrame([(1, "back", 3)], ["k", "v", "ver"]))
    assert sorted((r.k, r.v, r.ver) for r in t.read().collect()) == [
        (1, "back", 3), (2, "b", 5)
    ]


def test_legacy_table_with_tombstones_not_certified_by_upsert(spark, workdir):
    """An ordinary upsert must NOT stamp the __meta marker on a table in
    the unknown (legacy, pre-marker-layout) state: the table may already
    hold tombstone deltas written before the marker protocol existed, and
    stamping would certify it tombstone-free at the next restart — the
    update-only fast path would then resurrect deleted keys and the
    version-era filter would be skipped. Only compact() PROVES the table
    clean and may upgrade it."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v", "ver"])
    p = f"{workdir}/legacy"
    t = ParquetUpsertTable(spark, p, keys=["k"], version_col="ver")
    t.upsert(mk([(1, "a", 11), (2, "b", 5)]))
    t.delete_where(F.col("k") == 1)
    # simulate a pre-marker-layout table: tombstone delta on disk, no
    # markers (written by an older writer that knew no marker protocol)
    os.remove(t._marker("__meta"))
    os.remove(t._marker("__tombstones"))

    # restart: unknown state; an ordinary upsert must leave it unknown
    t2 = ParquetUpsertTable(spark, p, keys=["k"], version_col="ver")
    assert t2._may_have_tombstones is None
    t2.upsert(mk([(2, "b2", 6)]))
    assert not os.path.exists(t2._marker("__meta"))

    # second restart: still unknown (NOT certified tombstone-free), and
    # the deleted key must not be "existing" for an update-only upsert
    t3 = ParquetUpsertTable(spark, p, keys=["k"], version_col="ver")
    assert t3._may_have_tombstones is None
    t3.upsert(mk([(1, "ghost", 99)]), insert=False)
    got = sorted((r.k, r.v, r.ver) for r in t3.read().collect())
    assert got == [(2, "b2", 6)]
    # and the era reset still applies: a lower-version reinsert wins
    t3.upsert(mk([(1, "back", 3)]))
    got = sorted((r.k, r.v, r.ver) for r in t3.read().collect())
    assert got == [(1, "back", 3), (2, "b2", 6)]

    # compaction remains the one legitimate upgrade path
    t3.compact()
    t4 = ParquetUpsertTable(spark, p, keys=["k"], version_col="ver")
    assert t4._may_have_tombstones is False


def test_delete_where_null_condition_keeps_row(spark, workdir):
    """delete_where removes exactly the rows where the condition is TRUE;
    a NULL evaluation keeps the row, and its fate must not depend on
    whether any OTHER row matched — eager and lazy tables agree in both
    cases."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    got = {}
    for ce in (1, 64):
        t = ParquetUpsertTable(spark, f"{workdir}/{ce}", keys=["k"],
                               compact_every=ce)
        t.upsert(spark.createDataFrame([(1, None), (2, 5)], schema))
        t.delete_where(F.col("v") < 10)  # NULL < 10 -> NULL: keep k=1
        got[ce] = sorted((r.k, r.v) for r in t.read().collect())
    assert got[1] == got[64] == [(1, None)]

    # and when ONLY NULL-evaluating rows exist (victims empty), the
    # early-return no-op must agree with the non-empty case: k=1 survives
    for ce in (1, 64):
        t = ParquetUpsertTable(spark, f"{workdir}/only_null_{ce}",
                               keys=["k"], compact_every=ce)
        t.upsert(spark.createDataFrame([(1, None)], schema))
        t.delete_where(F.col("v") < 10)
        assert [(r.k, r.v) for r in t.read().collect()] == [(1, None)]


def test_null_version_merge_matches_mor(spark, workdir):
    """NULL versions must not be mistaken for 'no matching key': eager
    and lazy tables follow the resolve ordering (non-NULL beats NULL;
    ties — equal or both NULL — go to the incoming row), never
    duplicating keys when both versions are NULL nor dropping update-only
    rows whose existing version is NULL."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    mk = lambda rows: spark.createDataFrame(rows, schema)
    got = {}
    for ce in (1, 64):
        t = ParquetUpsertTable(spark, f"{workdir}/{ce}", keys=["k"],
                               version_col="ver", compact_every=ce)
        # both NULL: last writer wins, exactly one row per key
        t.upsert(mk([(1, "a", None), (2, "b", 5), (3, "c", None)]))
        t.upsert(mk([(1, "a2", None)]))
        # update-only against a NULL-version existing row: must apply
        t.upsert(mk([(3, "c2", 7), (9, "ghost", 7)]), insert=False)
        # NULL incoming loses to a non-NULL existing version
        t.upsert(mk([(2, "b_null", None)]))
        # and a non-NULL incoming beats a NULL existing version
        t.upsert(mk([(1, "a3", 1)]))
        got[ce] = sorted(
            (r.k, r.v, r.ver) for r in t.read().collect()
        )
    assert got[1] == got[64] == [
        (1, "a3", 1), (2, "b", 5), (3, "c2", 7)
    ]


def test_swap_crash_windows_recover(spark, workdir):
    """A crash between the swap's two renames must not lose the table:
    recovery installs the complete new state (finish) or rolls the old
    state back (abort) — never silently starts a fresh empty table.
    Windows A-C are staged in the fold layout an eager (compact_every=1)
    table swaps in after every write: `__seq=N/` plus a root `_SUCCESS`."""
    import os
    import shutil

    from moc_indexer_spark.streaming.swap import _old, _tmp

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])

    def eager(path):
        return ParquetUpsertTable(spark, path, keys=["k"], compact_every=1)

    def stage_fold(path, rows, seq, complete=True):
        # the new state exactly as compact() stages it
        (mk(rows).withColumn("__deleted", F.lit(False))
         .write.parquet(os.path.join(_tmp(path), f"__seq={seq}")))
        if complete:
            open(os.path.join(_tmp(path), "_SUCCESS"), "w").close()

    # -- window A: tmp complete, old renamed away (crash between renames)
    p = f"{workdir}/a"
    t = eager(p)
    t.upsert(mk([(1, "a")]))
    t.upsert(mk([(3, "c")]))
    assert t.history() == [1]
    stage_fold(p, [(1, "a2"), (2, "b"), (3, "c")], seq=2)
    os.rename(p, _old(p))  # the crash point: table dir is now MISSING
    t2 = eager(p)
    assert {(r.k, r.v) for r in t2.read().collect()} == {
        (1, "a2"), (2, "b"), (3, "c")
    }
    assert t2.history() == [2]
    assert not os.path.exists(_old(p)) and not os.path.exists(_tmp(p))

    # -- window B: tmp incomplete (no root _SUCCESS), old renamed away
    q = f"{workdir}/b"
    t = eager(q)
    t.upsert(mk([(5, "x")]))
    t.upsert(mk([(6, "y")]))
    stage_fold(q, [(5, "x2"), (6, "y")], seq=2, complete=False)
    os.rename(q, _old(q))
    t2 = eager(q)
    assert {(r.k, r.v) for r in t2.read().collect()} == {(5, "x"), (6, "y")}
    assert t2.history() == [1]
    assert not os.path.exists(_old(q)) and not os.path.exists(_tmp(q))

    # -- window C: crash AFTER install, before old cleanup — live dir wins
    r = f"{workdir}/c"
    t = eager(r)
    t.upsert(mk([(7, "y")]))
    t.upsert(mk([(7, "y2")]))
    shutil.copytree(r, _old(r))
    t2 = eager(r)
    assert {(r_.k, r_.v) for r_ in t2.read().collect()} == {(7, "y2")}
    assert not os.path.exists(_old(r))

    # -- lazy compact window: crash between renames mid-compaction
    m = f"{workdir}/m"
    t = ParquetUpsertTable(spark, m, keys=["k"])
    t.upsert(mk([(1, "a")]))
    t.upsert(mk([(1, "a2")]))
    t.upsert(mk([(2, "b")]))
    before = {(r_.k, r_.v) for r_ in t.read().collect()}
    # stage a compaction fold exactly as compact() would, then "crash"
    stage_fold(m, sorted(before), seq=2)
    os.rename(m, _old(m))
    t2 = ParquetUpsertTable(spark, m, keys=["k"])
    assert {(r_.k, r_.v) for r_ in t2.read().collect()} == before
    assert t2._delta_seqs() == [2]  # the fold was installed, history kept


def test_flat_legacy_layout_is_refused(spark, workdir):
    """A table dir with parquet files at its root and no `__seq=` dirs
    (the pre-merge-on-read flat layout) must be refused at open: an
    append would land `__seq=0/` next to the flat files and every later
    read would fail. Moving the files into `__seq=0/` opens it."""
    import os

    p = f"{workdir}/flat"
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(p)
    with pytest.raises(ValueError, match="__seq=0"):
        ParquetUpsertTable(spark, p, keys=["k"])
    os.makedirs(f"{p}/__seq=0")
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            os.rename(f"{p}/{f}", f"{p}/__seq=0/{f}")
    t = ParquetUpsertTable(spark, p, keys=["k"], compact_every=1)
    t.upsert(spark.createDataFrame([(2, "b2")], ["k", "v"]))
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b2")]
    # the fold leaves a root _SUCCESS — a folded table must still open
    assert os.path.exists(f"{p}/_SUCCESS")
    ParquetUpsertTable(spark, p, keys=["k"])


def test_sharded_delta_append_parity_and_file_count(spark, workdir):
    """shards>1 must only change the FILE layout of a delta dir (the
    catch-up write-stage parallelization), never the read view: same
    merge semantics as the single-file append, multiple parquet files
    inside the __seq dir, and compaction still folds it."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, ["k", "v", "ver"])
    big = [(i, f"v{i}", 1) for i in range(200)]

    one = ParquetUpsertTable(spark, f"{workdir}/one", keys=["k"],
                             version_col="ver")
    sharded = ParquetUpsertTable(spark, f"{workdir}/sh", keys=["k"],
                                 version_col="ver")
    one.upsert(mk(big))
    sharded.upsert(mk(big).repartition(8), shards=4)
    assert _snapshot(one) == _snapshot(sharded)

    seq0 = os.path.join(f"{workdir}/sh", "__seq=0")
    n_files = sum(1 for f in os.listdir(seq0) if f.endswith(".parquet"))
    assert n_files > 1, "sharded append should write multiple files"

    # merge semantics unaffected: update + version guard across shard files
    sharded.upsert(mk([(0, "new", 2), (1, "stale", 0)]), shards=4)
    one.upsert(mk([(0, "new", 2), (1, "stale", 0)]))
    assert _snapshot(one) == _snapshot(sharded)

    sharded.compact()
    assert _snapshot(one) == _snapshot(sharded)


def test_indexer_shard_gate_is_tick_safe():
    """The gate derives shards from the cycle's block count driver-side:
    tick-sized cycles stay single-file; a 20k-block catch-up shards.
    Exercises the REAL gate (`app._delta_shards`, the function
    run_incremental calls) — not a re-derived formula that could stay
    green while the production gate drifts."""
    from moc_indexer_spark.app import _delta_shards as gate

    assert gate(10, 32) == 1          # 3 s tick
    assert gate(500, 32) == 1         # bench catch-up shape
    assert gate(20_000, 32) == 10     # outage recovery parallelizes
    assert gate(1_000_000, 32) == 32  # capped at session parallelism


def test_indexer_default_sink_mode_is_lazy(spark, workdir):
    """`python -m moc_indexer_spark.app` ships the mode DEPLOY.md rules:
    an Indexer built without sink_mode folds its sinks lazily; the "cow"
    mode that bench_ingest.py measures folds every sink after every
    write."""
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.sources.chain import FakeChain

    chain = FakeChain(CONTRACTS, USERS, 5)
    lazy = Indexer(spark, f"{workdir}/lazy", chain, CONTRACTS)
    assert all(t.compact_every > 1 for t in lazy.tables.values())
    eager = Indexer(spark, f"{workdir}/eager", chain, CONTRACTS,
                    sink_mode="cow")
    assert all(t.compact_every == 1 for t in eager.tables.values())
    with pytest.raises(ValueError, match="sink_mode"):
        Indexer(spark, f"{workdir}/bad", chain, CONTRACTS, sink_mode="delta")


def test_indexer_auto_compaction_policy(spark, workdir):
    """The Indexer threads its compact_every policy into every MoR sink:
    after enough tick cycles the tables FOLD (delta-dir count resets to a
    single base) and the resolved read view is unchanged by the fold —
    the long-running-daemon guarantee the mor_cycle_policy_longrun axis
    measures at 60k-block scale."""
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.sources.chain import FakeChain

    ix = Indexer(spark, f"{workdir}/ix", FakeChain(CONTRACTS, USERS, 5),
                 CONTRACTS, sink_mode="mor", compact_every=3)
    tip = 20
    for _ in range(5):
        ix.run_incremental(tip=tip)
        tip += 10
    raw = ix.tables["raw_transactions"]
    # 5 cycles appended 5 deltas; the policy folded at least once
    assert len(raw.history()) < 5

    def snap():  # rows carry array columns (logs) — stringify to compare
        return sorted(map(str, raw.read().collect()))

    before = snap()
    raw.compact()  # explicit fold on top must be a read-view no-op
    assert snap() == before


def test_indexer_folds_at_most_one_table_per_cycle(spark, workdir):
    """The cycle budget: when several sinks cross the fold threshold
    together (they append in lockstep, so they do), run_incremental folds
    exactly ONE per cycle and queues the rest behind the round-robin
    cursor — a tick never absorbs two O(table) rewrites. (Per-table
    threshold staggering was tried first and still collides at lcm
    points; this is the hard invariant.)"""
    from moc_indexer_spark.app import CONTRACTS, USERS, Indexer
    from moc_indexer_spark.sources.chain import FakeChain

    ix = Indexer(spark, f"{workdir}/ix", FakeChain(CONTRACTS, USERS, 5),
                 CONTRACTS, sink_mode="mor", compact_every=2)
    tip = 20
    total_folds = 0
    for _ in range(8):
        before = {n: len(t.history()) for n, t in ix.tables.items()}
        ix.run_incremental(tip=tip)
        tip += 10
        after = {n: len(t.history()) for n, t in ix.tables.items()}
        # a fold leaves exactly one (base) dir right after the cycle's
        # own append; without one the count can only have grown
        folds = [n for n in before if after[n] == 1 and before[n] >= 2]
        assert len(folds) <= 1, folds
        total_folds += len(folds)
    assert total_folds >= 2  # the policy actually fires under pressure

def test_compact_deltas_minor_merge(spark, workdir):
    """compact_deltas (round 9): folds the delta TAIL into one appended
    delta — resolved view unchanged, dir count bounded, version guard
    preserved through the merge ordering — and refuses tombstone-carrying
    tables (era resolution needs the per-delta seq history)."""
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    tbl = ParquetUpsertTable(
        spark, f"{workdir}/t", keys=["k"], version_col="ver",
        compact_every=1000,
    )
    tbl.upsert(mk([(1, "a", 5), (2, "b", 5)], ["k", "v", "ver"]))
    tbl.compact()  # establish a base
    # tail: a newer version, then a STALE one (the guard must hold after
    # the merge: within-tail resolution orders by version, not seq)
    tbl.upsert(mk([(1, "a2", 9)], ["k", "v", "ver"]))
    tbl.upsert(mk([(1, "a_stale", 7), (3, "c", 1)], ["k", "v", "ver"]))
    tbl.upsert(mk([(2, "b2", 6)], ["k", "v", "ver"]))
    want = _snapshot(tbl)
    n_before = len(tbl.history())
    folded = tbl.compact_deltas()
    assert folded == n_before - 1
    assert len(tbl.history()) == 2  # base + merged tail
    assert _snapshot(tbl) == want
    assert [r.v for r in tbl.read().filter(F.col("k") == 1).collect()] == ["a2"]
    # folded-away as-of points are refused, surviving ones still answer
    seqs = tbl.history()
    tbl.read(as_of_seq=seqs[0]).count()
    with pytest.raises(ValueError, match="folded away"):
        tbl.read(as_of_seq=seqs[-1] - 1)
    # idempotent-ish: nothing left to fold
    assert tbl.compact_deltas() == 0

    # crash window: merged delta appended but tail dirs not yet pruned
    # (reconstructed by copying the merged delta back under old seqs is
    # unnecessary — duplicates resolve by seq; simulate with a plain
    # re-upsert of the same rows instead, then fold again)
    tbl.upsert(mk([(3, "c", 1)], ["k", "v", "ver"]))
    assert _snapshot(tbl) == want
    # tail = the previous merged delta + the duplicate append
    assert tbl.compact_deltas() == 2
    assert _snapshot(tbl) == want

    # tombstone refusal
    tbl2 = ParquetUpsertTable(
        spark, f"{workdir}/t2", keys=["k"], compact_every=1000
    )
    tbl2.upsert(mk([(1, "a")], ["k", "v"]))
    tbl2.upsert(mk([(2, "b")], ["k", "v"]))
    tbl2.upsert(mk([(3, "c")], ["k", "v"]))
    tbl2.delete_where(F.col("k") == 1)
    with pytest.raises(ValueError, match="tombstones"):
        tbl2.compact_deltas()


def test_compact_deltas_never_triggers_full_compact(spark, workdir):
    """ADVICE r9: the minor fold's merge-append must not trip the
    compact_every threshold into a FULL O(table) compact() mid-tick —
    the exact rewrite the minor form exists to avoid. With
    compact_every=4 and 3 deltas, the merge-append is the 4th dir:
    before the fix it auto-compacted the whole table to one base."""
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    tbl = ParquetUpsertTable(
        spark, f"{workdir}/t", keys=["k"], compact_every=4
    )
    tbl.upsert(mk([(1, "a")], ["k", "v"]))
    tbl.upsert(mk([(2, "b")], ["k", "v"]))
    tbl.upsert(mk([(1, "a2")], ["k", "v"]))
    want = _snapshot(tbl)
    assert tbl.compact_deltas() == 2
    # base delta 0 survives + merged tail at seq 3: a full compact would
    # have collapsed everything to the single highest seq
    assert tbl.history() == [0, 3]
    assert _snapshot(tbl) == want
    # the threshold still applies to REAL appends: the next upsert is
    # the 3rd dir, one more reaches 4 and full-compacts as configured
    tbl.upsert(mk([(3, "c")], ["k", "v"]))
    assert len(tbl.history()) == 3
    tbl.upsert(mk([(4, "d")], ["k", "v"]))
    assert len(tbl.history()) == 1


def _plan_ancestors(plan: str, leaf: str, nth: int = 0) -> list[str]:
    """Operator names above the `nth` plan line containing `leaf` (the
    first by default, -1 for the last), nearest first (read off the tree
    string's indentation)."""
    lines = plan.splitlines()
    start = [i for i, ln in enumerate(lines) if leaf in ln][nth]

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    out, d = [], depth(lines[start])
    for ln in reversed(lines[:start]):
        if depth(ln) < d:
            out.append(ln.lstrip(" :+-"))
            d = depth(ln)
    return out


@pytest.mark.parametrize("shards", [1, 2])
def test_partial_set_fill_reads_only_the_batch_keys(spark, workdir, shards):
    """The partial-$set fill and the update-only existence check read the
    table's rows semi-joined to the batch keys, then resolve those: the
    broadcast build side holds a LeftSemi join between the table scan and
    any window, so no window runs over the whole table. The semi join's
    key side is the incoming batch's keys: above the batch's scan it holds
    no dedup window and no exchange. Catch-up batches (shards > 1) take
    the same broadcast plan."""
    tbl = ParquetUpsertTable(spark, f"{workdir}/t", keys=["k"],
                             version_col="ver")
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    tbl.upsert(mk([(1, "a", 1, "x"), (2, "b", 1, "y")], ["k", "v", "ver", "w"]))
    tbl.upsert(mk([(3, "c", 1, "z")], ["k", "v", "ver", "w"]))
    deltas = []
    append = ParquetUpsertTable._append_delta

    def spy(self, batch, *args, **kwargs):
        deltas.append(batch._jdf.queryExecution().executedPlan().toString())
        return append(self, batch, *args, **kwargs)

    ParquetUpsertTable._append_delta = spy
    try:
        tbl.upsert(mk([(1, 5), (9, 5)], ["k", "ver"]), shards=shards)
        tbl.upsert(mk([(2, "b2", 6), (8, "g", 6)], ["k", "v", "ver"]),
                   insert=False, shards=shards)
    finally:
        ParquetUpsertTable._append_delta = append
    for plan, join in zip(deltas, ("LeftOuter", "Inner")):
        above = _plan_ancestors(plan, f"{workdir}/t]")
        semi = next(i for i, op in enumerate(above) if "LeftSemi" in op)
        window = next(i for i, op in enumerate(above) if op.startswith("Window"))
        assert semi < window, above
        build = next(i for i, op in enumerate(above)
                     if op.startswith("BroadcastExchange"))
        assert window < build
        assert f"{join}, BuildRight" in above[build + 1]
        key_side = _plan_ancestors(plan, "Scan ExistingRDD", nth=-1)
        build = next(i for i, op in enumerate(key_side)
                     if op.startswith("BroadcastExchange"))
        assert "LeftSemi, BuildRight" in key_side[build + 1], key_side
        assert not any(op.startswith(("Window", "Exchange"))
                       for op in key_side[:build]), key_side
    assert _snapshot(tbl) == [
        (1, "a", 5, "x"), (2, "b2", 6, "y"), (3, "c", 1, "z"),
        (9, None, 5, None)]


@pytest.mark.parametrize("shards", [1, 2, 4])
@pytest.mark.parametrize("existing", [False, True])
def test_sharded_append_shuffles_the_batch_once_on_the_keys(
        spark, workdir, monkeypatch, shards, existing):
    """The written plan's batch side (the path from the write down to the
    batch's scan, outside every broadcast) holds one exchange at
    `shards>1`, the key hash partitioning that both the dedup window and
    the delta's file layout use, and none at `shards=1`; no write
    partitions round-robin. `existing` appends a partial $set, whose fill
    joins a broadcast current-row side."""
    from pyspark.sql.readwriter import DataFrameWriter

    tbl = ParquetUpsertTable(spark, f"{workdir}/t", keys=["k"],
                             version_col="ver")
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    if existing:
        tbl.upsert(mk([(1, "a", 1), (2, "b", 1)], ["k", "v", "ver"]))
        batch = mk([(1, 5), (9, 5)], ["k", "ver"])
    else:
        batch = mk([(1, "a", 1), (2, "b", 1), (2, "c", 0)], ["k", "v", "ver"])
    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    tbl.upsert(batch, shards=shards)
    monkeypatch.undo()
    (plan,) = plans
    assert "RoundRobinPartitioning" not in plan
    batch_side = _plan_ancestors(plan, "Scan ExistingRDD")
    assert not any(op.startswith("BroadcastExchange") for op in batch_side)
    exchanges = [op for op in batch_side if op.startswith("Exchange")]
    if shards == 1:
        assert exchanges == [] and "Coalesce 1" in batch_side
    else:
        (exchange,) = exchanges
        assert exchange.startswith("Exchange hashpartitioning(k#")
        assert f", {shards}), REPARTITION_BY_NUM" in exchange
    want = ([(1, "a", 5), (2, "b", 1), (9, None, 5)] if existing
            else [(1, "a", 1), (2, "b", 1)])
    assert _snapshot(tbl) == want


@pytest.mark.parametrize("version_col", [None, "ver"])
def test_in_batch_dedup_winner_is_independent_of_partitioning(
        spark, workdir, version_col):
    """Rows of one key that tie on the version resolve by their content:
    the same row wins at every shard count, after an input repartition
    and whatever the input order."""
    rows = [(1, "a", 5, "p"), (1, "b", 5, "o"), (2, "x", 1, "q"),
            (2, "y", 1, "q"), (2, "z", 0, "r"), (3, "u", 2, None),
            (3, "u", 2, "s")]
    cols = ["k", "v", "ver", "w"]
    results = set()
    for i, (shards, parts, order) in enumerate(
            [(1, None, 1), (1, None, -1), (2, None, 1), (4, None, -1),
             (1, 8, 1), (4, 8, -1)]):
        df = spark.createDataFrame(rows[::order], cols)
        if parts:
            df = df.repartition(parts)
        tbl = ParquetUpsertTable(spark, f"{workdir}/t{i}", keys=["k"],
                                 version_col=version_col)
        tbl.upsert(df, shards=shards)
        results.add(tuple(_snapshot(tbl)))
    # unversioned, `ver` is content too: "z" outranks the newer "y"
    two = (2, "y", 1, "q") if version_col else (2, "z", 0, "r")
    assert results == {((1, "b", 5, "o"), two, (3, "u", 2, "s"))}



def _jobs(spark, fn) -> int:
    """The number of Spark jobs `fn()` runs."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_created_table_knows_its_schema(spark, workdir):
    """The append that creates a table sets the writer's schema cache:
    its next upsert runs no schema-inference (footer) job, and the
    cached schema is the one a fresh instance infers from the files —
    non-nullable batch columns read back nullable, `__seq` as int."""
    path = f"{workdir}/t"

    def mk(k):
        return (spark.range(k, k + 1).withColumn("ver", F.lit(1))
                .withColumn("tags", F.array(F.lit("x"))))

    tbl = ParquetUpsertTable(spark, path, keys=["id"], version_col="ver")
    tbl.upsert(mk(0))
    second = _jobs(spark, lambda: tbl.upsert(mk(1)))
    third = _jobs(spark, lambda: tbl.upsert(mk(2)))
    fresh = ParquetUpsertTable(spark, path, keys=["id"], version_col="ver")
    cold = _jobs(spark, lambda: fresh.upsert(mk(3)))
    # the fresh instance pays the footer job the creating writer skips
    assert second == third and cold == third + 1
    reader = ParquetUpsertTable(spark, path, keys=["id"], version_col="ver")
    assert tbl.read().schema == reader.read().schema
    assert tbl._schema == reader._schema
    assert _snapshot(tbl) == [(i, ["x"], 1) for i in range(4)]


def test_cached_plan_over_an_earlier_read_is_not_served_stale(
        spark, workdir):
    """A plan cached over one read of the table must not answer the same
    plan read after an append: Spark matches file scans by path, and the
    appends land outside its view."""
    tbl = ParquetUpsertTable(spark, f"{workdir}/t", keys=["k"])
    mk = lambda k: spark.createDataFrame([(k, "v")], "k long, v string")
    tbl.upsert(mk(1))
    tbl.upsert(mk(2))
    cached = tbl.read().select("k").distinct().cache()
    try:
        assert cached.count() == 2
        tbl.upsert(mk(3))
        assert tbl.read().select("k").distinct().count() == 3
    finally:
        cached.unpersist()
