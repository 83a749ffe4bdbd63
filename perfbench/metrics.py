"""The metric catalog: names and units, in BENCHMARK.json's order.

Every run prints every end-to-end metric (--trace 0) or every per-layer
metric (--trace 1). A per-layer metric of a layer the workload does not
touch is printed as 0 (the sink layers on batch_headline, the query
layers on indexer_daemon).
"""
from batch_headline import QUERIES as _QUERIES
from indexer_daemon import READS as _READS, TABLES as _SINK_TABLES

END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "1/s"),
    ("read_p50_s", "s"),
]

PER_LAYER = (
    [
        ("chain.blocks_fetched", "count"),
        ("chain.fetch_s", "s"),
        ("chain.scan_build_s", "s"),
        ("events.build_s", "s"),
        ("sink.upsert_s", "s"),
    ]
    + [(f"sink.upsert_s.{t}", "s") for t in _SINK_TABLES]
    + [
        ("sink.compact_s", "s"),
        ("sink.fold_ticks", "count"),
        ("sink.read_build_s", "s"),
        ("sink.delta_dirs_at_read", "count"),
        ("sink.bytes_written", "B"),
        ("sink.write_amplification", "ratio"),
        ("sink.table_bytes", "B"),
        ("app.tick_self_s", "s"),
        ("app.balance_refresh_s", "s"),
        ("app.ticks_over_3s", "count"),
    ]
    + [(f"serving.{op}.{part}_s", "s")
       for op in _READS for part in ("build", "collect")]
    + [("plans.build_s", "s")]
    + [(f"query.{q}.exec_s", "s") for q in _QUERIES]
    + [(f"spark.{k}_per_{scope}", "B" if k.endswith("bytes") else "count")
       for scope in ("tick", "read", "pass")
       for k in ("jobs", "stages", "tasks", "input_bytes",
                 "shuffle_write_bytes")]
    + [("trace.op_p50_s", "s")]
)
