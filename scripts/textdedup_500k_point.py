#!/usr/bin/env python
"""One-off 500k-doc point for neardedup_update_vs_state_size.

The round-8 axis stops at 50k docs while the vector maintainers carry
1M-vector points; this prices the near-dup stream's documented floor —
"one map-only state scan per tick, no cell/partition analog to prune"
— at 10x the axis ceiling, and ATTRIBUTES the tick cost via per-phase
timers (state reads vs pairs write-back).

HISTORY: the first run of this script (round 9, pre-fix) measured
8.218 s/tick at 500k on the original CoW-upsert-table state — reads
0.12 s each (the floor claim held) but 5.35 s of keyed CoW write-back
rewriting O(corpus) rows per tick (pairs 1.88 / bands 1.81 /
feats 1.66). That measurement motivated IncrementalNearDup's round-9
state redesign (batch-dir accrual + MoR pairs + tiered folds); this
script now measures the redesigned maintainer UNDER ITS POLICY
(compact_every) — the module contract, like the vector 1M points.

Corpus profile: token-SHUFFLED resamples of sf0.1 texts — length/vocab
marginals preserved, but shingle sets are fresh per doc, so the LSH
bucket load stays realistic (the axis's resample-as-is profile at 100x
multiplicity would make every doc collide with ~100 stored copies and
the point would measure the fixture's pathological dup rate, not the
maintainer). A controlled DUP_FRAC of docs are exact copies of earlier
docs (reservoir), so the pair path stays exercised end-to-end.

Merges the point into neardedup_update_vs_state_size (exponent + tail
recomputed) and records the phase breakdown under "at_500k".
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

from _curve_util import (  # noqa: E402
    fit_exponent,
    gen_shuffled_chunk,
    median_times,
)

SF01 = "/root/testdata/sf0.1"
N = 500_000
PRELOAD_BATCH = 25_000
TICK = 250          # the axis's timed update size
RUNS = 3
DUP_FRAC = 0.02
RESERVOIR = 1_000

SCHEMA = "doc_id long, text string, source string"
COMPACT_EVERY = 16  # the maintained-index posture (policy minor folds)


class _PhaseTimer:
    """Wrap an object's method to accumulate wall time."""

    def __init__(self):
        self.acc: dict[str, float] = {}

    def wrap(self, obj, name: str, label: str):
        fn = getattr(obj, name)
        acc = self.acc

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                acc[label] = acc.get(label, 0.0) + time.perf_counter() - t0

        setattr(obj, name, timed)

    def reset(self):
        self.acc.clear()


def _gen_chunk(rng, base_rows, start_id, n, reservoir):
    """Shared corpus profile — see _curve_util.gen_shuffled_chunk."""
    return gen_shuffled_chunk(
        rng, base_rows, start_id, n, reservoir,
        dup_frac=DUP_FRAC, reservoir_cap=RESERVOIR,
    )


def main() -> None:
    import numpy as np

    from moc_indexer_spark.session import get_spark, ship_package
    from moc_indexer_spark.streaming.corpus import IncrementalNearDup

    spark = get_spark(app_name="textdedup-500k-point")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    # (tokens, source) tuples: gen_shuffled_chunk emits (id, text, src)
    base_tokens = [
        (r.text.split(" "), "s")
        for r in spark.read.parquet(f"{SF01}/documents.parquet")
        .select("text").collect()
    ]
    rng = np.random.default_rng(41)
    reservoir: list = []

    d = tempfile.mkdtemp(prefix="textdedup_500k_")
    idx = IncrementalNearDup(
        spark, os.path.join(d, "state"), compact_every=COMPACT_EVERY
    )

    t0 = time.perf_counter()
    done = 0
    while done < N:
        m = min(PRELOAD_BATCH, N - done)
        rows = _gen_chunk(rng, base_tokens, done, m, reservoir)
        idx.update(spark.createDataFrame(rows, SCHEMA))
        done += m
        print(json.dumps({"preloaded": done,
                          "elapsed_s": round(time.perf_counter() - t0, 1)}),
              flush=True)
    preload_sec = round(time.perf_counter() - t0, 1)

    timer = _PhaseTimer()
    timer.wrap(idx.pairs_tbl, "upsert", "pairs_append")
    # attribute the state reads per relation (they are the floor claim)
    for name, log in idx.logs.items():
        timer.wrap(log, "read", f"{name}_read")
    timer.wrap(idx.folds, "maybe_fold_one", "policy_folds")

    def one_update():
        nonlocal done
        rows = _gen_chunk(rng, base_tokens, done, TICK, reservoir)
        idx.update(spark.createDataFrame(rows, SCHEMA))
        done += TICK

    one_update()  # warm
    timer.reset()
    t_update = median_times(one_update, RUNS)
    phases = {k: round(v / RUNS, 3) for k, v in timer.acc.items()}

    n_pairs = idx.pairs_tbl.read().count()

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CURVE.json",
    )
    with open(out_path) as fh:
        doc = json.load(fh)
    row = doc["stream_results"]["neardedup_update_vs_state_size"]
    row["t"][str(N)] = t_update
    sizes = sorted(int(k) for k in row["t"])
    row["exponent"] = fit_exponent(
        [n / sizes[0] for n in sizes], [row["t"][str(n)] for n in sizes]
    )
    tail = sizes[-2:]
    row["exponent_tail"] = fit_exponent(
        [n / tail[0] for n in tail], [row["t"][str(n)] for n in tail]
    )
    row["at_500k"] = {
        "preload_sec": preload_sec,
        "phase_sec_mean": phases,
        "n_pairs": n_pairs,
        "compact_every": COMPACT_EVERY,
        "corpus": f"token-shuffled sf0.1 resamples, dup_frac={DUP_FRAC}",
        "note": "redesigned batch-dir state under its policy; "
                "*_read = relation construction/listing (the scans "
                "execute inside the verify job), pairs_append = the MoR "
                "delta write (blocks), policy_folds = in-tick minor "
                "maintenance. Pre-redesign this tick cost 8.218 s, "
                "5.35 s of it keyed CoW write-back (see module docstring)",
    }
    scales = doc.setdefault("stream_scales", {})
    scales["textdedup_docs"] = sorted(set(
        scales.get("textdedup_docs", [5_000, 15_000, 50_000]) + [N]
    ))
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(json.dumps({"update_at_500k": t_update, "phases": phases,
                      "n_pairs": n_pairs, "preload_sec": preload_sec,
                      "exponent": row["exponent"],
                      "exponent_tail": row["exponent_tail"]}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
