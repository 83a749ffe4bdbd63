"""Property-based tests (hypothesis): the upsert sink must behave exactly
like Mongo's sequential keyed upserts for ANY batch sequence, and wei math
must round-trip."""

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from moc_indexer_spark.functions import wei
from moc_indexer_spark.streaming.sink import ParquetUpsertTable

KEYS = ["k0", "k1", "k2", "k3"]

# unique (key, version) pairs per batch: with equal versions for the same
# key, a set-based MERGE may pick either row — excluded by construction so
# the expected outcome is deterministic
batch_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=st.lists(batch_strategy, min_size=1, max_size=3))
def test_versioned_upsert_equals_sequential_reference(spark, tmp_path_factory,
                                                      batches):
    """Fold the same batches through a python reference of Mongo's
    sequential versioned upserts (in-batch: highest version wins; across
    batches: monotonic >= guard); table state must match exactly."""
    path = str(tmp_path_factory.mktemp("merge")) + "/t"
    tbl = ParquetUpsertTable(spark, path, keys=["k"], version_col="ver")
    ref: dict[str, tuple[int, int]] = {}
    for batch in batches:
        tbl.upsert(spark.createDataFrame(batch, ["k", "ver", "v"]))
        best: dict[str, tuple[int, int]] = {}
        for k, ver, v in batch:
            if k not in best or ver > best[k][0]:
                best[k] = (ver, v)
        for k, (ver, v) in best.items():
            if k not in ref or ver >= ref[k][0]:
                ref[k] = (ver, v)
    got = {r.k: (r.ver, r.v) for r in tbl.read().collect()}
    assert got == ref


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(amount=st.integers(min_value=0, max_value=10**24))
def test_wei_ether_roundtrip_property(spark, amount):
    df = spark.createDataFrame([(str(amount),)], ["w"]).select(
        F.col("w").cast("decimal(38,0)").alias("w")
    )
    r = df.select(
        wei.to_wei_trunc(wei.from_wei("w")).alias("back"),
        wei.from_wei("w").alias("eth"),
    ).collect()[0]
    assert int(r.back) == amount
    assert Decimal(r.eth) == Decimal(amount) / Decimal(10**18)


# -- randomized op sequences: eager == lazy == sequential Mongo reference ---

_op_strategy = st.one_of(
    st.tuples(st.just("upsert"), batch_strategy, st.booleans()),
    st.tuples(st.just("delete"), st.sampled_from(KEYS)),
    st.tuples(st.just("compact")),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op_strategy, min_size=2, max_size=5))
def test_op_sequences_match_sequential_reference(spark, tmp_path_factory,
                                                 ops):
    """ANY interleaving of upserts (insert and update-only), retention
    deletes, and compactions must leave eager (fold after every write) and
    lazy tables in exactly the state a sequential Mongo-style fold produces — including the
    delete-resets-the-version-era rule (a reinsert after a delete wins
    regardless of how its version compares to the deleted row's)."""
    base = str(tmp_path_factory.mktemp("opseq"))
    tables = {
        arm: ParquetUpsertTable(spark, f"{base}/{arm}", keys=["k"],
                                version_col="ver", compact_every=ce)
        for arm, ce in (("eager", 1), ("lazy", 64))
    }
    ref: dict[str, tuple[int, int]] = {}
    for op in ops:
        if op[0] == "upsert":
            _, batch, insert = op
            for t in tables.values():
                t.upsert(spark.createDataFrame(batch, ["k", "ver", "v"]),
                         insert=insert)
            best: dict[str, tuple[int, int]] = {}
            for k, ver, v in batch:
                if k not in best or ver > best[k][0]:
                    best[k] = (ver, v)
            for k, (ver, v) in best.items():
                if k in ref:
                    if ver >= ref[k][0]:
                        ref[k] = (ver, v)
                elif insert:
                    ref[k] = (ver, v)
        elif op[0] == "delete":
            for t in tables.values():
                t.delete_where(F.col("k") == op[1])
            ref.pop(op[1], None)
        else:
            tables["lazy"].compact()
    expect = {k: vv for k, vv in ref.items()}
    for arm, t in tables.items():
        df = t.read()
        got = (
            {} if df is None
            else {r.k: (r.ver, r.v) for r in df.collect()}
        )
        assert got == expect, arm

# -- NULL values, predicate deletes, restarts: the review-found edge set ----

_null_batch_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=9),
        st.one_of(st.none(), st.integers(min_value=0, max_value=99)),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: (t[0], t[1]),
)

_op2_strategy = st.one_of(
    st.tuples(st.just("upsert"), _null_batch_strategy, st.booleans()),
    st.tuples(st.just("delete_key"), st.sampled_from(KEYS)),
    # predicate delete over a nullable column: rows where v is NULL must
    # SURVIVE (condition evaluates NULL, not TRUE) in both arms
    st.tuples(st.just("delete_pred"), st.integers(min_value=0, max_value=99)),
    st.tuples(st.just("compact")),
    # restart: rebuild the instances from disk — the tombstone marker
    # protocol must reproduce the same semantics from a cold start at
    # ANY point in the sequence
    st.tuples(st.just("restart")),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op2_strategy, min_size=2, max_size=6))
def test_null_and_predicate_ops_match_reference(spark, tmp_path_factory,
                                                ops):
    """Randomized sequences over a NULLABLE value column with predicate
    deletes and cold restarts: eager == lazy == the sequential reference,
    where `delete_where(v < c)` removes exactly the rows whose v is
    non-NULL and < c (SQL three-valued logic: NULL keeps the row)."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ver", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    base = str(tmp_path_factory.mktemp("opseq2"))
    arms = {"eager": 1, "lazy": 64}

    def open_tables():
        return {
            arm: ParquetUpsertTable(spark, f"{base}/{arm}", keys=["k"],
                                    version_col="ver", compact_every=ce)
            for arm, ce in arms.items()
        }

    tables = open_tables()
    ref: dict[str, tuple[int, int | None]] = {}
    for op in ops:
        if op[0] == "upsert":
            _, batch, insert = op
            df = spark.createDataFrame(batch, schema)
            for t in tables.values():
                t.upsert(df, insert=insert)
            best: dict[str, tuple[int, int | None]] = {}
            for k, ver, v in batch:
                if k not in best or ver > best[k][0]:
                    best[k] = (ver, v)
            for k, (ver, v) in best.items():
                if k in ref:
                    if ver >= ref[k][0]:
                        ref[k] = (ver, v)
                elif insert:
                    ref[k] = (ver, v)
        elif op[0] == "delete_key":
            for t in tables.values():
                t.delete_where(F.col("k") == op[1])
            ref.pop(op[1], None)
        elif op[0] == "delete_pred":
            c = op[1]
            for t in tables.values():
                t.delete_where(F.col("v") < c)
            ref = {k: (ver, v) for k, (ver, v) in ref.items()
                   if v is None or v >= c}
        elif op[0] == "compact":
            tables["lazy"].compact()
        else:  # restart
            tables = open_tables()
    for arm, t in tables.items():
        df = t.read()
        got = (
            {} if df is None
            else {r.k: (r.ver, r.v) for r in df.collect()}
        )
        assert got == ref, arm


# -- randomized rollup maintenance: any slicing + replays == one batch agg ---

_event_pool = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # event_id (uniqued)
        st.integers(min_value=0, max_value=179),      # minute offset
        st.sampled_from(["purchase", "signup", "error"]),
        st.integers(min_value=-500, max_value=500),   # value*100 (exact)
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


def _rollup_rows(events):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return [
        (eid, t0 + dt.timedelta(minutes=m), et, v / 100.0)
        for eid, m, et, v in events
    ]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=_event_pool,
    cuts=st.lists(st.integers(min_value=0, max_value=3), min_size=1,
                  max_size=30),
    replays=st.sets(st.integers(min_value=0, max_value=3)),
    direct_last=st.booleans(),
)
def test_rollup_any_slicing_and_replay_equals_batch(spark, tmp_path_factory,
                                                    events, cuts, replays,
                                                    direct_last):
    """IncrementalRollup folded over ANY partition of the events into
    micro-batches, with ANY subset of batches re-delivered (same
    batch_id — the foreachBatch failure/replay contract) and optionally
    a trailing DIRECT (batch_id=None) update, must serve exactly the
    one-shot batch tumbling aggregate of all events. Exact additive
    types make slicing irrelevant; the applied-id marker makes replays
    no-ops; a direct update must fold once and not disturb stream
    progress."""
    from moc_indexer_spark.streaming.rollup import IncrementalRollup
    from moc_indexer_spark.streaming.windows import tumbling_agg

    rows = _rollup_rows(events)
    # assign each event to one of up to 4 batches (cuts cycles over rows)
    n_b = max(cuts) + 1
    batches = [[] for _ in range(n_b)]
    for i, r in enumerate(rows):
        batches[cuts[i % len(cuts)]].append(r)

    cols = ["event_id", "ts", "event_type", "value"]
    path = str(tmp_path_factory.mktemp("rollprop")) + "/roll"
    roll = IncrementalRollup(spark, path, width="1 hour")
    direct_rows = None
    for bid, batch in enumerate(batches):
        if not batch:
            continue
        if direct_last and bid == n_b - 1:
            direct_rows = batch  # folded below WITHOUT a batch_id
            continue
        bdf = spark.createDataFrame(batch, cols)
        roll.update(bdf, batch_id=bid)
        if bid in replays:  # failure re-delivery: must be a no-op
            roll.update(bdf, batch_id=bid)
    if direct_rows is not None:
        roll.update(spark.createDataFrame(direct_rows, cols))

    applied = [r for b in batches for r in b]
    expected = tumbling_agg(
        spark.createDataFrame(applied, cols), "1 hour"
    )
    got = sorted(tuple(r) for r in roll.serve().collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=_event_pool,
    cuts=st.lists(st.integers(min_value=0, max_value=3), min_size=1,
                  max_size=30),
    order=st.permutations([0, 1, 2, 3]),
    replays=st.sets(st.integers(min_value=0, max_value=3)),
)
def test_candles_any_slicing_order_replay_equals_batch(
        spark, tmp_path_factory, events, cuts, order, replays):
    """IncrementalCandles state is MERGEABLE, not additive: open/close are
    struct-min/max over (ts, event_id, value). Folding ANY partition of
    the events, in ANY batch order, with ANY subset re-delivered, must
    equal the one-shot candle — associativity/commutativity of the merge
    is exactly what this asserts (ties impossible: event_id is unique).
    Re-delivery is the foreachBatch contract's immediate retry (same
    batch_id, straight after the first delivery)."""
    import datetime as dt

    from moc_indexer_spark.streaming.rollup import IncrementalCandles

    rows = _rollup_rows(events)
    n_b = max(cuts) + 1
    batches = [[] for _ in range(n_b)]
    for i, r in enumerate(rows):
        batches[cuts[i % len(cuts)]].append(r)

    cols = ["event_id", "ts", "event_type", "value"]
    path = str(tmp_path_factory.mktemp("candprop")) + "/cand"
    cand = IncrementalCandles(spark, path, width="1 hour")
    # batch_id must be monotone in DELIVERY order for the replay guard,
    # so re-number the permuted batches by delivery position
    delivered = [b for b in order if b < n_b and batches[b]]
    for pos, b in enumerate(delivered):
        bdf = spark.createDataFrame(batches[b], cols)
        cand.update(bdf, batch_id=pos)
        if b in replays:
            cand.update(bdf, batch_id=pos)  # re-delivery: must no-op

    all_rows = [r for b in batches for r in b]
    key = F.struct("ts", "event_id", "value")
    expected = (
        spark.createDataFrame(all_rows, cols)
        .groupBy(F.window("ts", "1 hour")["start"].alias("window_start"),
                 "event_type")
        .agg(
            F.min(key).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("value").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            (F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("decimal(18,4)").cast("double")
             / F.count(F.lit(1)).cast("double")).alias("avg_price"),
        )
    )
    got = sorted(tuple(r) for r in cand.serve().collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=_event_pool,
    cuts=st.lists(st.integers(min_value=0, max_value=3), min_size=1,
                  max_size=30),
    order=st.permutations([0, 1, 2, 3]),
)
def test_moments_any_slicing_order_equals_batch(spark, tmp_path_factory,
                                                events, cuts, order):
    """IncrementalMoments: n / Σx / Σx² in exact decimals are the
    universal mergeable form — ANY partition of the events folded in ANY
    order must serve exactly the one-shot mean/std (doubles appear only
    in serve(), so fold order cannot perturb the state)."""
    from moc_indexer_spark.streaming.rollup import IncrementalMoments

    rows = _rollup_rows(events)
    n_b = max(cuts) + 1
    batches = [[] for _ in range(n_b)]
    for i, r in enumerate(rows):
        batches[cuts[i % len(cuts)]].append(r)

    cols = ["event_id", "ts", "event_type", "value"]
    path = str(tmp_path_factory.mktemp("momprop")) + "/mom"
    mom = IncrementalMoments(spark, path, width="1 hour")
    for b in order:
        if b < n_b and batches[b]:
            mom.update(spark.createDataFrame(batches[b], cols))

    all_rows = [r for b in batches for r in b]
    one = IncrementalMoments(
        spark, str(tmp_path_factory.mktemp("momref")) + "/mom", width="1 hour"
    )
    one.update(spark.createDataFrame(all_rows, cols))
    got = sorted(tuple(r) for r in mom.serve().collect())
    want = sorted(tuple(r) for r in one.serve().collect())
    assert got == want


# -- round 9: delta-tail merges in random op sequences ----------------------

_minor_op_strategy = st.one_of(
    st.tuples(st.just("upsert"), batch_strategy, st.booleans()),
    st.tuples(st.just("compact")),
    st.tuples(st.just("compact_deltas")),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_minor_op_strategy, min_size=2, max_size=6))
def test_minor_delta_merges_in_op_sequences(spark, tmp_path_factory, ops):
    """ANY interleaving of upserts (insert and update-only), FULL
    compactions and MINOR delta-tail merges (round 9's compact_deltas)
    must leave the MoR table in exactly the sequential-reference state —
    the minor merge is physical maintenance, never semantic; in
    particular the version guard must survive the within-tail re-merge
    ordering (tombstone-free by construction: deletes are the documented
    refusal case, covered by its unit test)."""
    base = str(tmp_path_factory.mktemp("minorseq"))
    tbl = ParquetUpsertTable(spark, f"{base}/t", keys=["k"],
                             version_col="ver", compact_every=1000)
    ref: dict[str, tuple[int, int]] = {}
    for op in ops:
        if op[0] == "upsert":
            _, batch, insert = op
            tbl.upsert(spark.createDataFrame(batch, ["k", "ver", "v"]),
                       insert=insert)
            best: dict[str, tuple[int, int]] = {}
            for k, ver, v in batch:
                if k not in best or ver > best[k][0]:
                    best[k] = (ver, v)
            for k, (ver, v) in best.items():
                if k in ref:
                    if ver >= ref[k][0]:
                        ref[k] = (ver, v)
                elif insert:
                    ref[k] = (ver, v)
        elif op[0] == "compact":
            tbl.compact()
        else:
            tbl.compact_deltas()
        # invariant after EVERY op, not only at the end: a minor merge
        # mid-sequence must not perturb any later resolution
        df = tbl.read()
        got = {} if df is None else {r.k: (r.ver, r.v) for r in df.collect()}
        assert got == ref
