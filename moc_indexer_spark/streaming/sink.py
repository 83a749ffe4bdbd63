"""Idempotent keyed upsert sink (the Mongo `find_one_and_update(upsert=True)`
analog, /root/reference/indexer/scan_raw_txs.py:51-54 and every handler).

No Delta in this environment, so MERGE is implemented over plain parquet as
a merge-on-read table: each upsert APPENDS a delta batch as a `__seq=N/`
partition directory (staged outside the table, renamed in — one atomic
directory per batch, O(batch) bytes); `read()` resolves latest-row-per-key
across the dirs (version_col first, then batch sequence); `compact()` folds
the dirs back into a single base through a crash-recoverable directory swap
(swap.py). Deletes append tombstones (`__deleted=true`) that resolution
filters out.

One mechanism, one knob: `compact_every` is the fold cadence per table.
  - compact_every=1 folds after every write, so the table is always one
    base dir and reads take the map-only single-dir path — the shape for
    rarely-updated, read-dominated tables (per-batch counters, one-shot
    batch outputs). A lone first delta is already a single base and is
    left as is.
  - larger values (the 64 default, the Indexer's 4x backstop) append
    O(batch) per write and fold off the hot path — the shape for the
    3-second incremental tick.

Shared guards (the reference's semantics):
  - monotonic version guard (T8, moc_balances.py:127-136):
    `WHEN MATCHED AND source.version >= target.version THEN UPDATE`
  - update-only mode (T6, fastbtcbridge.py:58-78 upsert=False):
    incoming rows without a matching key are dropped.
  - in-batch dedup on the key, keeping the highest version (Mongo applies
    sequential upserts; a set-based MERGE must pre-coalesce); rows that
    tie on the version are ordered by their content, so the kept row
    does not depend on how the batch is partitioned.
  - partial `$set`: a batch carrying a column subset keeps missing columns'
    existing values.

Delta layout: a tick-sized append (`shards=1`) runs as one exchange-free
stage and lands as one file. A catch-up append (`shards>1`) hash-partitions
the batch on the keys once; that one exchange serves the dedup window and
is the delta's file layout (one file per shard, each key in one file).

Scale notes: at 100 TB the table would be Delta/Iceberg/Hudi with real
MERGE and a transaction log; the semantics here are identical and
single-writer (the reference is single-writer too — one indexer daemon
owns each collection).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

from .swap import recover_swap, swap_dir


def _has_map(dt: DataType) -> bool:
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def _nullable(dt: DataType) -> DataType:
    """`dt` with every field, element and value nullable: the type a
    parquet file written from `dt` reads back as."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class ParquetUpsertTable:
    """A keyed table backed by parquet with MERGE-like upsert semantics."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        version_col: str | None = None,
        n_buckets: int = 16,
        compact_every: int = 64,
    ):
        self.spark = spark
        # normalize: a trailing slash would land staging dirs
        # (f"{path}__stage_...") back INSIDE the table directory, recreating
        # the partial-file partition-discovery hazard staging exists to avoid
        self.path = path.rstrip("/") or path
        self.keys = keys
        self.version_col = version_col
        self.n_buckets = n_buckets
        # fold cadence: compact() once this many delta dirs accrete — 1
        # folds after every write; larger values bound the window fan-in
        # and the small-file count between maintenance runs
        self.compact_every = compact_every
        # Single-writer schema cache (the 3 s-tick headroom work): each
        # upsert used to build a mergeSchema read just to learn the column
        # set (~80 ms of driver analysis per sink per cycle), and every
        # read() paid distributed footer merging across all delta dirs.
        # This instance owns all writes, so the schema is known after one
        # read or the append that creates the table, and extended on
        # append. Evolution contract: columns are ADDED, never retyped
        # (sink docstring) — a retype fails loudly at the parquet scan.
        # None = unknown (fresh instance over an existing table); first
        # access populates it.
        self._schema = None
        # Tombstones only enter via delete_where; while none were ever
        # appended, resolution skips the version-era window (_resolve) and
        # compact_deltas() may run. The flag survives restarts via a
        # marker protocol (a restarting daemon must not pay the era window
        # on every read and upsert forever): `__meta` is written on the
        # first append by a marker-aware writer, `__tombstones` is touched
        # by delete_where BEFORE the tombstone delta lands (crash-safe:
        # the marker can claim tombstones that never landed — conservative
        # — never the reverse). A pre-existing table WITHOUT `__meta` was
        # written by an older layout -> unknown -> resolve path.
        # Finish or roll back a swap a previous process crashed inside —
        # BEFORE exists(): a half-swapped table must not read as absent
        # (that would reset the tombstone flag and orphan the data under
        # the swap-old name).
        recover_swap(self.path)
        # sweep delta-staging dirs a crashed append left behind (the
        # stage->rename step is atomic, so these are never half-visible
        # to readers — just disk litter under the single-writer contract)
        parent = os.path.dirname(self.path) or "."
        stage_prefix = os.path.basename(self.path) + "__stage_"
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith(stage_prefix):
                    shutil.rmtree(os.path.join(parent, d),
                                  ignore_errors=True)
        if os.path.isdir(self.path):
            names = os.listdir(self.path)
            if not any(f.startswith("__seq=") for f in names) and any(
                f.endswith(".parquet") for f in names
            ):
                # the removed copy-on-write layout kept parquet files at
                # the table root; appending __seq=0/ next to them would
                # make every later read fail partition discovery
                raise ValueError(
                    f"{self.path} holds parquet files directly under the "
                    "table root (the pre-merge-on-read flat layout); move "
                    f"them into {self.path}/__seq=0/ before opening it"
                )
        if not self.exists():
            self._may_have_tombstones: bool | None = False
        elif os.path.exists(self._marker("__tombstones")):
            self._may_have_tombstones = True
        elif os.path.exists(self._marker("__meta")):
            self._may_have_tombstones = False
        else:
            self._may_have_tombstones = None

    def _marker(self, name: str) -> str:
        # markers live NEXT TO the table dir, not inside it: partition
        # discovery over the table path must only ever see __seq=N dirs
        return f"{self.path}.{name}"

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        return bool(self._delta_seqs())

    def _delta_seqs(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(f.split("=", 1)[1])
            for f in os.listdir(self.path)
            if f.startswith("__seq=")
        )

    def _read_raw(self) -> DataFrame:
        # partition discovery turns __seq=N/ dirs into an int column; deltas
        # may carry evolved schemas, so merge footers — unless this writer
        # instance already knows the merged schema (then the scan skips
        # footer merging entirely: cheaper reads as the delta count grows)
        #
        # The scan is tagged with the table's dir list. Spark's cache
        # manager matches file scans by root path, schema and options, and
        # the appends land outside its view (stage + rename), so an untagged
        # plan cached over an earlier read would answer the same plan read
        # after an append with the old rows.
        reader = self.spark.read.option(
            "__seqs", ",".join(map(str, self._delta_seqs())))
        if self._schema is not None:
            return reader.schema(self._schema).parquet(self.path)
        df = reader.option("mergeSchema", "true").parquet(self.path)
        self._schema = df.schema
        return df

    def _resolve(self, raw: DataFrame) -> DataFrame:
        """Latest-row-per-key over base+deltas: version_col (if any) wins
        first — the T8 monotonic guard falls out of the ordering — then the
        batch sequence (Mongo's last-writer-wins).

        A delete ends the key's version era: in Mongo, removing the
        document resets the guard, so a later upsert inserts fresh no
        matter how its version compares to the deleted row's. The
        tombstone carries the deleted row's version, so without the era
        filter a lower-version reinsert would LOSE to the tombstone in
        the (version, seq) ordering and the key would stay deleted —
        diverging from the reference. Rows at or before the
        key's last tombstone are therefore dropped first; the version
        ordering only ever compares rows of the live era. Unversioned
        tables order by seq alone, where the last row IS the live era —
        no extra window. Skipped entirely on the tombstone-free fast
        path (nothing to era-filter)."""
        if self.version_col and self._may_have_tombstones is not False and (
            "__deleted" in raw.columns
        ):
            w_key = Window.partitionBy(*self.keys)
            raw = (
                raw.withColumn(
                    "__last_del",
                    F.max(
                        F.when(F.col("__deleted"), F.col("__seq"))
                    ).over(w_key),
                )
                .filter(
                    F.col("__seq") > F.coalesce(F.col("__last_del"), F.lit(-1))
                )
                .drop("__last_del")
            )
        order = (
            [F.desc_nulls_last(self.version_col)] if self.version_col else []
        ) + [F.desc("__seq")]
        w = Window.partitionBy(*self.keys).orderBy(*order)
        out = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        if "__deleted" in out.columns:
            out = out.filter(
                ~F.coalesce(F.col("__deleted"), F.lit(False))
            ).drop("__deleted")
        return out

    def read(self, as_of_seq: int | None = None) -> DataFrame | None:
        """Resolved table state; `as_of_seq` time-travels to the state after
        delta N (inclusive) — the lakehouse VERSION AS OF read. The `__seq`
        partition column prunes newer delta directories at the scan, so an
        as-of read costs the same as reading at that point in history, not
        a replay. Only surviving deltas are history: a point `compact()`
        folded away raises (the reference's Mongo collections keep no
        history at all)."""
        seqs = self._delta_seqs()
        if not seqs:
            return None
        if as_of_seq is not None:
            if as_of_seq < seqs[0]:
                # compaction folded that point of history into the base;
                # answering from post-compaction state would silently
                # return FUTURE data for a past seq — refuse instead
                raise ValueError(
                    f"as_of_seq={as_of_seq} predates the oldest surviving "
                    f"delta (__seq={seqs[0]}); earlier history was folded "
                    "by compaction"
                )
            if as_of_seq <= seqs[-1] and as_of_seq not in seqs:
                # seq numbers are assigned contiguously, so a GAP below
                # the newest dir is a point compact_deltas() folded into
                # a later delta; a prefix read would silently MISS those
                # rows — refuse, like the pre-base case above
                raise ValueError(
                    f"as_of_seq={as_of_seq} was folded away by delta "
                    "compaction (no surviving delta at that seq)"
                )
        raw = self._read_raw()
        if as_of_seq is not None:
            raw = raw.filter(F.col("__seq") <= as_of_seq)
        if len(seqs) == 1:
            # single-dir fast path: every delta dir holds <=1 row per
            # key by construction (upsert dedups incoming, tombstones
            # and the compacted base are resolved views), so with one
            # dir the window resolve is the identity — skip the hash
            # shuffle + sort entirely. This is the steady post-compact
            # read shape: a freshly compacted 10M-row table reads
            # map-only instead of paying an Exchange per read.
            out = raw.drop("__seq")
            if "__deleted" in out.columns:
                out = out.filter(
                    ~F.coalesce(F.col("__deleted"), F.lit(False))
                ).drop("__deleted")
            return out
        return self._resolve(raw)

    def history(self) -> list[int]:
        """Available delta sequence numbers (time-travel points)."""
        return self._delta_seqs()

    # -- write --------------------------------------------------------------

    def _dedup_incoming(self, batch: DataFrame) -> DataFrame:
        """Keep one row per key: the highest version — Mongo's sequential
        upserts collapse to this. Rows that tie (unversioned keys, equal
        versions) are ordered by their other columns, so the kept row is a
        function of the batch's rows alone, never of its partitioning (a
        map column, which has no order, compares as its JSON)."""
        content = [
            F.to_json(f.name) if _has_map(f.dataType) else F.col(f.name)
            for f in batch.schema.fields
            if f.name not in self.keys and f.name != self.version_col
        ]
        order = [F.desc(self.version_col)] if self.version_col else []
        w = Window.partitionBy(*self.keys).orderBy(
            *order, *(F.desc(c) for c in content)
        )
        return (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def upsert(
        self, batch: DataFrame, insert: bool = True, shards: int = 1
    ) -> None:
        """MERGE batch into the table by appending it as one delta.

        insert=False -> update-only (T6): non-matching incoming keys dropped.
        With version_col -> matched rows replaced only if
        incoming.version >= existing.version (T8) — no write-side join:
        resolution orders by (version desc, seq desc), so a stale incoming
        version loses at read.
        Batches may carry a column subset (partial $set) — missing columns
        keep their existing values.
        shards -> write the delta as `shards` files hash-partitioned on
        the keys instead of one: a catch-up cycle's or a one-shot batch's
        whole input would otherwise fold through a single write task (the
        one serialization point in the recovery path). The caller gates it
        on known batch size — driver-side, no extra count job; tick-sized
        batches keep the measured single-file default. The batch itself
        is shuffled once at most: not at `shards=1`, by key hash at
        `shards>1`.
        """
        # the fill's key side comes from the incoming plan: the dedup drops
        # rows, never keys, and a side taken after it would re-run the
        # dedup window (and at shards>1 its exchange) under the broadcast
        keys = batch.select(*self.keys)
        # Either shape satisfies the dedup window's clustering, so the
        # window adds no exchange and _append_delta writes the partitions
        # as they are. shards=1: coalesce, so compute -> dedup -> write is
        # one exchange-free stage (a shuffle per sink per 3 s tick was pure
        # scheduling overhead). shards>1: an explicit count, which AQE
        # respects (coalesce can only narrow, and AQE may have collapsed
        # the batch's own shuffles to one partition).
        if shards <= 1:
            batch = batch.coalesce(1)
        else:
            batch = batch.repartition(shards, *self.keys)
        batch = self._dedup_incoming(batch)
        if not self.exists():
            if insert:
                self._append_delta(batch, shards)
            return
        raw_cols = [
            c for c in self._read_raw().columns
            if c not in ("__seq", "__deleted")
        ]
        missing = [c for c in raw_cols if c not in batch.columns]
        if missing or not insert:
            # the current rows of the batch's keys only: the table's rows
            # semi-joined to the batch keys, then resolved (era filter
            # included), so the fill and the existence check cost
            # O(batch keys' rows), not O(table). A left join fills absent
            # columns (partial $set) and keeps new keys; update-only (T6)
            # joins inner, dropping keys with no current row. Both
            # broadcast sides are bounded by the batch.
            current = self._resolve(
                self._read_raw().join(F.broadcast(keys), self.keys,
                                      "left_semi")
            ).select(*self.keys, *missing)
            batch = batch.join(
                F.broadcast(current), self.keys, "left" if insert else "inner"
            )
        self._append_delta(batch, shards)

    def _append_delta(
        self, batch: DataFrame, shards: int = 1, auto_compact: bool = True
    ) -> None:
        """Append one batch as the next `__seq=N/` partition dir. The batch
        is written to a temp dir and renamed in — one atomic directory per
        upsert, O(batch) bytes, no table rewrite. `shards` > 1 writes the
        batch's partitions as they are, one file each — upsert hands over
        a batch hash-partitioned on the keys (read() is
        multi-file-tolerant inside a `__seq=` dir). `auto_compact=False`
        suppresses the compact_every full-fold check — compact_deltas()'s
        merge-append MUST pass it (ADVICE r9): a minor fold whose
        threshold sits at or near compact_every would otherwise silently
        absorb the O(table) rewrite the minor form exists to avoid."""
        seqs = self._delta_seqs()
        nxt = (seqs[-1] + 1) if seqs else 0
        os.makedirs(self.path, exist_ok=True)
        if "__deleted" not in batch.columns:
            batch = batch.withColumn("__deleted", F.lit(False))
        # stage OUTSIDE the table dir: a crash between write and rename must
        # never leave partial files where partition discovery will read them
        # (a garbage dir inside the path fails EVERY subsequent read)
        tmp = f"{self.path}__stage_{uuid.uuid4().hex[:8]}"
        # one file per shard: coalesce folds a tick-sized write into the
        # batch's own stage; a sharded batch arrives partitioned (upsert)
        out = batch.coalesce(1) if shards <= 1 else batch
        out.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, os.path.join(self.path, f"__seq={nxt}"))
        if self._may_have_tombstones is not None and not os.path.exists(
            self._marker("__meta")
        ):
            # marks this table as marker-aware, so a restart can trust the
            # ABSENCE of the tombstone marker (see __init__). A legacy table
            # in the unknown state must NOT be stamped here: it may already
            # hold tombstone deltas written before the marker layout, and
            # stamping would certify it tombstone-free at the next restart.
            # compact() is the upgrade path — it PROVES the table clean.
            with open(self._marker("__meta"), "w") as fh:
                fh.write('{"sink_layout": 2}')
        # the single-writer schema cache: a table this append created
        # reads back as the batch's columns, all nullable, plus the int
        # `__seq` partition discovery infers; a known schema is extended
        # with any evolved columns
        if not seqs:
            self._schema = _nullable(batch.schema).add("__seq", IntegerType())
        elif self._schema is not None:
            known = set(self._schema.fieldNames())
            for f_ in _nullable(batch.schema).fields:
                if f_.name not in known:
                    self._schema = self._schema.add(f_)
        # a lone first delta is already a single base: folding it would
        # only copy it
        if auto_compact and seqs and len(seqs) + 1 >= self.compact_every:
            self.compact()

    def compact(self) -> None:
        """Fold deltas into a single base: the maintenance action (Hudi
        compaction / Delta OPTIMIZE analog). Readers see the old or the new
        table, never a mix (directory swap). The base keeps the HIGHEST
        folded seq number (not 0), so surviving history points stay
        truthful: `read(as_of_seq=n)` for n >= base answers correctly and
        for folded-away n raises instead of silently serving future data."""
        resolved = self.read()
        if resolved is None:
            return
        base_seq = self._delta_seqs()[-1]

        def _write(tmp_parent: str) -> None:
            (
                resolved.withColumn("__deleted", F.lit(False))
                .repartition(self.n_buckets, *self.keys)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp_parent, f"__seq={base_seq}"))
            )
            # Spark's _SUCCESS lands inside the __seq dir; the swap's
            # completeness check reads the tmp ROOT — stamp it only after
            # the data write finished, so recovery never installs a
            # half-written fold
            with open(os.path.join(tmp_parent, "_SUCCESS"), "w"):
                pass

        swap_dir(self.path, _write)
        # The folded base is tombstone-free by construction (resolution
        # dropped every deleted key), so the era-free resolve is valid
        # again — without this, one retention delete would tax every future
        # read and upsert with the era window forever. Marker removed
        # AFTER the swap: a crash in between leaves a stale marker
        # (conservative restart), never a tombstone the fast path misses.
        tomb = self._marker("__tombstones")
        if os.path.exists(tomb):
            os.remove(tomb)
        if not os.path.exists(self._marker("__meta")):
            # compaction proves the table tombstone-free, so a legacy
            # (pre-marker) table can be upgraded to the marker layout here
            with open(self._marker("__meta"), "w") as fh:
                fh.write('{"sink_layout": 2}')
        self._may_have_tombstones = False

    def compact_deltas(self) -> int:
        """MINOR MoR maintenance (round 9): fold the delta TAIL — every
        dir above the oldest surviving one — into a single delta at a
        fresh seq. O(tail) work bounded by the maintenance cadence,
        where compact() rewrites O(table); this is the form an in-tick
        policy may run (the Indexer's budget rule: a 3 s tick must never
        absorb a table-sized rewrite — the round-8 policy long-runs
        measured the full dup-table fold as the ON-arm p90/max spike).

        Mechanism needs no new crash protocol: the merged rows APPEND as
        a normal delta (atomic stage+rename), and only then are the
        folded tail dirs pruned. A crash between the two leaves
        duplicate rows that per-key resolution already settles (the
        merged delta holds the newest seq), and a later minor fold
        re-prunes. Refused for tables that may hold tombstones: the
        version-ERA resolution needs the within-tail seq history this
        fold collapses. Returns the number of delta dirs folded away."""
        if self._may_have_tombstones is not False:
            raise ValueError(
                "compact_deltas() on a table that may hold tombstones — "
                "the era resolution needs per-delta seq history; run the "
                "full compact() instead"
            )
        seqs = self._delta_seqs()
        if len(seqs) <= 2:
            return 0
        tail = seqs[1:]
        raw = self._read_raw().filter(F.col("__seq") >= tail[0])
        # latest-per-key under the SAME ordering read() resolves with
        # (version first, then seq) — the merged delta must carry exactly
        # the tail's winning rows or a base row could beat the wrong one
        order = (
            [F.desc_nulls_last(self.version_col)] if self.version_col else []
        ) + [F.desc("__seq")]
        w = Window.partitionBy(*self.keys).orderBy(*order)
        merged = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        # auto_compact=False: this append is the MINOR fold itself — it
        # must never trip the compact_every threshold into a full
        # O(table) compact() mid-tick (the docstring's budget rule)
        self._append_delta(merged, auto_compact=False)
        for s in tail:
            shutil.rmtree(
                os.path.join(self.path, f"__seq={s}"), ignore_errors=True
            )
        return len(tail)

    def delete_where(self, condition) -> None:
        """Retention delete (T9, mocsettlement.py:416-429): append
        tombstones — the matched rows re-emitted with `__deleted=true`, so
        they carry the winning version and the newest seq. Exactly the
        rows where the condition is TRUE are deleted; a NULL evaluation
        keeps the row."""
        existing = self.read()
        if existing is None:
            return
        victims = existing.filter(condition)
        if victims.isEmpty():
            # nothing matched: appending an empty tombstone delta would
            # permanently demote the table off the era-free fast path
            # (and on a fold-every-write table cost an O(table) no-op
            # fold). Retention ticks usually expire nothing, so this is
            # the common case under the 3 s cadence.
            return
        self._may_have_tombstones = True
        # marker BEFORE the delta: a crash between the two leaves a
        # false-positive marker (conservative), never a tombstone the
        # fast path doesn't know about
        with open(self._marker("__tombstones"), "w") as fh:
            fh.write("1")
        self._append_delta(victims.withColumn("__deleted", F.lit(True)))
