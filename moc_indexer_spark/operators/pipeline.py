"""Training-data pipeline operators: profiling, deterministic sampling,
sequence packing, multi-grain rollups, and text scrubbing.

No reference analog (BASELINE.json north star — large-scale data-pipeline
ops). Everything here is a pure Catalyst expression plan: one scan, no
Python UDFs, shuffles only where an aggregation key forces one.

Scale notes per operator:
- profile_numeric: ONE pass over the table; the distinct counts use Spark's
  Expand-based multi-distinct (each distinct agg shuffles its own key set).
  At 100 TB swap `countDistinct` for `approx_count_distinct` (HLL, one
  shuffle total) — the exact form is the oracle.
- hash_sample: embarrassingly parallel filter, no shuffle, no RNG state —
  md5(key) makes the sample reproducible across engines, retries, and
  cluster sizes (the property that matters for training-data lineage).
- pack_sequences: one shuffle on the partition key; the running sum is a
  window inside each partition — no global sort, no single-reducer stage.
- rollup_grains: ONE scan + ONE shuffle via `rollup()` grouping sets
  (minute→hour→day hierarchy); the naive form is 3 scans + 3 shuffles.
- scrub_text: JVM regexp_replace chain inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --- column profiler (ANALYZE-style stats, long format) ---------------------


def profile_numeric(
    df: DataFrame, numeric_cols: list[str], categorical_cols: list[str] = ()
) -> DataFrame:
    """Per-column stats in one pass: rows / nulls / exact distinct / min /
    max. Long format (one row per column) so the output schema is stable
    regardless of the profiled table. Categorical columns report NULL
    min/max (kept numeric-typed for cross-engine hash parity)."""
    aggs: list[Column] = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in [*numeric_cols, *categorical_cols]:
        aggs.append(F.count(c).cast("bigint").alias(f"__cnt_{c}"))
        aggs.append(F.count_distinct(c).cast("bigint").alias(f"__nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(c).cast("double").alias(f"__min_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"__max_{c}"))
    one = df.agg(*aggs)

    def row(c: str, numeric: bool) -> Column:
        return F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__cnt_{c}")).cast("bigint").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (F.col(f"__min_{c}") if numeric else F.lit(None).cast("double")).alias(
                "min_d"
            ),
            (F.col(f"__max_{c}") if numeric else F.lit(None).cast("double")).alias(
                "max_d"
            ),
        )

    rows = [row(c, True) for c in numeric_cols] + [
        row(c, False) for c in categorical_cols
    ]
    return one.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


# --- deterministic hash sampling -------------------------------------------


def hash_bucket(key: Column) -> Column:
    """First 2 hex chars of md5(key-as-string): a uniform bucket in
    '00'..'ff' (256 buckets). String compare against a hex threshold gives
    a deterministic Bernoulli sample at k/256 — identical in any engine
    with md5 (no RNG, no seed plumbing, stable under re-runs)."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


def hash_sample(df: DataFrame, key: Column, threshold_hex: Column) -> DataFrame:
    """Keep rows whose hash bucket sorts below `threshold_hex` ('14' → keep
    20/256 ≈ 7.8%). Pass a CASE expression as the threshold for stratified
    (per-group) rates."""
    return df.withColumn("bucket_hex", hash_bucket(key)).filter(
        F.col("bucket_hex") < threshold_hex
    )


# --- sequence packing (concat-and-chunk batching) ---------------------------


def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: Column,
    budget: int,
) -> DataFrame:
    """Assign each document a pack id by streaming docs in `order_col` order
    through a token budget: pack_id = floor(start_offset / budget) where
    start_offset is the running token total BEFORE the doc. This is the
    concat-and-chunk packing used to build fixed-length training batches —
    deterministic, one shuffle (on group_col), windowed cumsum within.

    Determinism REQUIRES (group_col, order_col) to be a total order: the
    running sum over tied order_col values depends on shuffle order, so
    ties would flip pack assignments between runs and break
    training-batch lineage. Pass a unique per-doc column (the callers use
    doc_id) or compose one (e.g. struct(ts, doc_id)) — same contract as
    page_top_k's tiebreaker."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = token_col.cast("bigint")
    cum = F.sum(toks).over(w)
    return df.select(
        group_col,
        order_col,
        toks.alias("n_tokens"),
        F.floor((cum - toks) / F.lit(budget)).cast("bigint").alias("pack_id"),
    )


# --- multi-grain rollup cascade (continuous-aggregate hierarchy) ------------


def rollup_grains(
    df: DataFrame, ts_col: str, group_col: str, value_dec: Column
) -> DataFrame:
    """minute/hour/day rollups in ONE scan + ONE shuffle using grouping
    sets (Spark 4 `DataFrame.groupingSets`): the (day, g), (hour, g) and
    (minute, g) groupings run in the same aggregation — the naive form is
    3 scans + 3 shuffles (which is what the DuckDB oracle does; two
    independent plans, one result). This is the hypertable
    continuous-aggregate hierarchy; the streaming incremental form is
    streaming/rollup.py. Grain detection uses GROUPING() indicators, not
    null checks, so NULL-keyed data stays correct."""
    base = df.select(
        F.date_trunc("day", ts_col).alias("__day"),
        F.date_trunc("hour", ts_col).alias("__hour"),
        F.date_trunc("minute", ts_col).alias("__minute"),
        F.col(group_col),
        value_dec.alias("__v"),
    )
    d, h, m, g = F.col("__day"), F.col("__hour"), F.col("__minute"), F.col(group_col)
    rolled = base.groupingSets(
        [[d, g], [d, h, g], [d, h, m, g]], d, h, m, g
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("__v").cast("decimal(18,4)").cast("double").alias("total_value"),
        F.grouping("__minute").alias("__no_min"),
        F.grouping("__hour").alias("__no_hour"),
    )
    grain = (
        F.when(F.col("__no_min") == 0, "minute")
        .when(F.col("__no_hour") == 0, "hour")
        .otherwise("day")
    )
    bucket = F.coalesce(F.col("__minute"), F.col("__hour"), F.col("__day"))
    return rolled.select(
        grain.alias("grain"),
        bucket.alias("bucket_start"),
        F.col(group_col),
        "n_events",
        "total_value",
    )


# --- text scrubbing (PII-style masking) -------------------------------------

# Simple char-class patterns only: valid and identical under Java regex
# (Spark) and RE2 (DuckDB with the 'g' flag).
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+", "<EMAIL>"),
    (r"[0-9][0-9 ()+.-]{6,}[0-9]", "<PHONE>"),
    (r"[0-9]+", "<NUM>"),
)


def scrub_text(text: Column, extra: tuple[tuple[str, str], ...] = ()) -> Column:
    """Chained global regexp_replace masking emails, phone-number shapes,
    then any residual digit runs. Order matters (specific → general)."""
    out = text
    for pat, repl in (*SCRUB_PATTERNS, *extra):
        out = F.regexp_replace(out, pat, repl)
    return out


# --- repetition filters (Gopher-style pretraining quality signals) ----------


def repetition_stats(docs: DataFrame, n_top: int = 2, n_dup: int = 5) -> DataFrame:
    """Per-document n-gram repetition signals (the Gopher/MassiveText
    repetition filters, word-n-gram form):

    - top_ngram_frac: occurrences of the single most frequent n_top-gram as
      a fraction of all n_top-gram occurrences (high → boilerplate loops).
    - dup_ngram_frac: fraction of n_dup-gram occurrences whose gram appears
      more than once in the document (high → copy-paste padding).

    Plan: the statistics are PER-DOCUMENT, so no shuffle is ever needed —
    one Arrow `mapInPandas` stage histograms each doc's grams in-partition:
    a map-only plan (zero exchanges) that scales linearly at any corpus
    size. The fractions divide small exact integers once, so the doubles
    are bit-identical to the oracle's.

    Why Python here and not a Catalyst expression: the per-gram work is
    NOT vectorizable as a built-in (needs a per-doc multiset histogram),
    and the pure-JVM alternatives were measured 9-20x slower at sf0.1 —
    higher-order `aggregate`/`transform` lambdas run INTERPRETED per
    element (~7us/gram for a struct-accumulator run-length fold: 3.4 s;
    per-element xxhash64 grams: 8.2 s; explode + two-level groupBy: 3.7 s
    of shuffle; this Arrow stage: 0.38 s). The usual "UDFs are the slow
    path" rule inverts when the built-in path can't codegen.
    """

    def stats(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [],
                "n_tokens": [],
                "top_ngram_frac": [],
                "dup_ngram_frac": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text = zero tokens, not an AttributeError that
                # kills the whole Arrow batch
                toks = [t for t in (text or "").split(" ") if t]
                n = len(toks)
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                if n >= n_top:
                    c = Counter(zip(*(toks[j:] for j in range(n_top))))
                    out["top_ngram_frac"].append(
                        max(c.values()) / (n - n_top + 1)
                    )
                else:
                    out["top_ngram_frac"].append(None)
                if n >= n_dup:
                    c = Counter(zip(*(toks[j:] for j in range(n_dup))))
                    out["dup_ngram_frac"].append(
                        sum(v for v in c.values() if v >= 2) / (n - n_dup + 1)
                    )
                else:
                    out["dup_ngram_frac"].append(None)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        stats,
        "doc_id bigint, n_tokens bigint, top_ngram_frac double, "
        "dup_ngram_frac double",
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-trained unigram language-model score per document: mean
    ln(count(token)/total_tokens) over the document's tokens — the cheap
    stand-in for a KenLM perplexity gate (low mean log-prob → rare-token
    soup, OCR noise, non-language).

    Determinism: each token's log-prob is ONE double expression (identical
    in the DuckDB oracle), immediately cast to DECIMAL(18,9); the per-doc
    SUM then runs in exact decimal, so aggregation order cannot change the
    result (the registry's no-order-dependent-double-aggregation rule).

    Scale: vocab fits driver memory here so the score join broadcasts; at
    100 TB prune the vocab to counts ≥ k first (the tail is what the score
    punishes anyway, and the OOV floor handles pruned tokens) or fall back
    to a shuffle join — the token key is Zipf-skewed, so enable AQE skew
    splitting for that variant.
    """
    from ..functions import text as T

    tok = docs.select("doc_id", F.explode(T.tokens()).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # total_tokens rides the vocab relation as a whole-relation window sum
    # instead of a separate vocab.agg() + crossJoin: every DataFrame
    # reference re-executes its subtree, and the aggregate form re-ran the
    # full corpus explode + groupBy just to produce one scalar. The empty
    # partitionBy window funnels only the VOCAB (bounded: distinct tokens,
    # not corpus-proportional) through a single partition — the corpus
    # itself is tokenized twice (vocab build + probe) instead of three times.
    vocab = vocab.withColumn(
        "total_tokens", F.sum("cnt").over(Window.partitionBy())
    )
    lp = (
        F.log(F.col("cnt").cast("double") / F.col("total_tokens").cast("double"))
        .cast("decimal(18,9)")
    )
    return (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # ROUND(…,6) absorbs the 1-ulp wide-decimal→double cast noise
            # (same absorption the cosine queries use)
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_logprob"),
        )
    )


def materialize_corpus(
    docs: DataFrame,
    keep: DataFrame,
    path: str,
    cluster_cols: tuple[str, ...] = ("source", "doc_id"),
    n_files: int = 8,
) -> tuple[int, int]:
    """The pipeline's last mile: apply a keep-list (any DataFrame with a
    doc_id column — e.g. the training_corpus_filter output) to the corpus
    with a semi-join and write the surviving docs range-clustered, so the
    materialized training set is both deduped/filtered AND laid out for
    selective reads (source-level slicing, doc_id point lookups prune on
    row-group stats). Returns (kept, dropped) row counts.

    At 100 TB the semi-join broadcasts when the keep-list is a compact id
    set, or shuffle-joins on doc_id otherwise; the clustered write is the
    same rebalancing pass an ingest job would run anyway — filtering and
    layout cost ONE extra shuffle total."""
    from ..tables import write_clustered

    total = docs.count()
    kept_df = docs.join(
        keep.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    write_clustered(kept_df, path, cluster_cols, n_files=n_files)
    kept = docs.sparkSession.read.parquet(path).count()
    return kept, total - kept


def bigram_logprob(docs: DataFrame, lam: float = 0.8) -> DataFrame:
    """Interpolated bigram language-model score per document: mean
    ln(λ·P_ML(w2|w1) + (1−λ)·P_uni(w2)) over the document's adjacent token
    pairs. One rung up the perplexity-gate ladder from `unigram_logprob` —
    the unigram mix floor keeps unseen-in-context pairs finite without
    explicit smoothing tables, which is exactly Jelinek–Mercer
    interpolation with a fixed λ.

    Determinism: the probability is ONE double expression with fixed
    operand order (identical text in the DuckDB oracle), its ln frozen to
    DECIMAL(18,9); per-doc aggregation is exact decimal (registry rule:
    no order-dependent double aggregation).

    Scale: the bigram count relation is the big one (vocab²-bounded but
    Zipf-concentrated); it is built with one map-side-combining shuffle
    and joined back by (w1, w2) — at corpus scale that join stays
    shuffle-side (skew handled by AQE) while the unigram vocab and total
    broadcast. Pruning bigrams with count < k converts the long tail to
    pure unigram backoff and caps the relation size.
    """
    from ..functions import text as T

    toks = docs.select("doc_id", T.tokens().alias("t")).filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    uni = docs.select(F.explode(T.tokens()).alias("token"))
    vocab = uni.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total_tokens"))
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    p = (
        F.lit(lam)
        * (F.col("c12").cast("double") / F.col("c1").cast("double"))
        + F.lit(1.0 - lam)
        * (F.col("c2").cast("double") / F.col("total_tokens").cast("double"))
    )
    lp = F.log(p).cast("decimal(18,9)")
    return (
        big.join(bigc, ["w1", "w2"])
        .join(
            F.broadcast(vocab.select(F.col("token").alias("w1"), F.col("cnt").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(vocab.select(F.col("token").alias("w2"), F.col("cnt").alias("c2"))),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_logprob"),
        )
    )


def kneser_ney_logprob(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document — the standard
    LM smoothing (Chen & Goodman 1999) one rung above the
    Jelinek-Mercer mix in `bigram_logprob`:

        P_KN(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                      + (D · N1+(w1·)/c(w1·)) · N1+(·w2)/|bigram types|

    where N1+(w1·)/N1+(·w2) are the distinct-continuation counts that
    make KN back off to "how many contexts does w2 complete" instead of
    raw unigram frequency. Every ingredient is a relational count, so
    the whole score is cross-engine certifiable (unlike real-valued
    EM-fit interpolation weights).

    Determinism follows the bigram_logprob contract: the probability is
    ONE double expression with fixed operand order, its ln frozen to
    DECIMAL(18,9), per-doc aggregation in exact decimal. Scale shape:
    the corpus is tokenized twice (the bigram count build and the
    instance-side probe). The bigram count relation is the only
    corpus-proportional shuffle (map-side combining); the context,
    continuation and type counts ride that bigram-TYPE relation as
    windows (two keyed exchanges plus one single-task whole-relation
    count, all vocab²-bounded), and the finished score table is the
    explicit broadcast side of the probe join.
    """
    from ..functions import text as T

    toks = docs.select("doc_id", T.tokens().alias("t")).filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # The context (c1, n_follow) and continuation (n_prec) tables are
    # per-key aggregates OF bigc — building them as separate groupBy
    # relations re-executed the whole corpus explode + bigram groupBy once
    # per table (plus twice more for their broadcast-join probes): five
    # corpus passes for one score. As windows over bigc they are computed
    # in the same evaluation; the two window exchanges move only the
    # bigram-TYPE relation (vocab^2-bounded, Zipf-concentrated — per-w1
    # partitions are capped at |vocab|, so no unbounded skew). n_types is
    # the ROW COUNT of that same type relation, so it rides bigc too, as
    # a whole-relation window count (the unigram_logprob/dsir trick) —
    # the empty partitionBy funnels only the bounded type relation
    # through one task, and removes what was a third full corpus
    # tokenize+explode+groupBy pass plus its crossJoin. The corpus is now
    # tokenized twice (bigc build, instance-side probe).
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    bigc = (
        bigc.withColumn("c1", F.sum("c12").over(w1w))
        .withColumn("n_follow", F.count(F.lit(1)).over(w1w))
        .withColumn("n_prec", F.count(F.lit(1)).over(w2w))
        .withColumn(
            "n_types", F.count(F.lit(1)).over(Window.partitionBy())
        )
    )
    p = (
        F.greatest(
            F.col("c12").cast("double") - F.lit(discount), F.lit(0.0)
        )
        / F.col("c1").cast("double")
        + (
            F.lit(discount)
            * F.col("n_follow").cast("double")
            / F.col("c1").cast("double")
        )
        * (F.col("n_prec").cast("double") / F.col("n_types").cast("double"))
    )
    lp = F.log(p).cast("decimal(18,9)")
    # EXPLICIT broadcast of the score table (guide §3.1): bigc is
    # vocab²-bounded by construction, but its post-window size estimate
    # is unusable and the exploded instance relation's is UNDERestimated,
    # so the planner picked BuildLeft — broadcasting the CORPUS-sized
    # side. Interleaved A/B at a 30x corpus: 19.2 s with the wrong build
    # side vs 5.5 s with this hint (sf0.1: 0.814 → 0.626 s). At
    # extreme vocab (bigc beyond broadcast limits) prune low-count
    # bigram types first or drop the hint to shuffle-join with AQE skew
    # handling — the docstring's scale note.
    return (
        big.join(F.broadcast(bigc), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_logprob"),
        )
    )


def compression_ratio(docs: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the classic "too repetitive /
    too random" quality gate that complements the n-gram repetition
    filters (boilerplate compresses far below natural text; encrypted or
    garbled bytes barely compress at all).

    Plan shape: map-only Arrow `mapInPandas` (zero exchanges), same
    rationale as `repetition_stats` — a DEFLATE pass over each text is
    inherently per-row imperative work no Catalyst builtin expresses, so
    the Arrow batch path IS the fast path. zlib level is pinned (6) so
    the output is deterministic across runs and executors; not
    SQL-expressible, hence rows-only at the driver gate with a pytest
    reference check against direct zlib.
    """

    def ratios(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            # fillna before encode: a NULL text becomes NaN, and
            # zlib.compress(NaN) raises instead of yielding a row
            raw = pdf["text"].fillna("").str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            n = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "compressed_bytes": comp.astype("int64"),
                    "compression_ratio": (
                        comp / n.where(n > 0)
                    ).astype("float64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        ratios,
        "doc_id bigint, n_bytes bigint, compressed_bytes bigint, "
        "compression_ratio double",
    )


def bigram_heldout_logprob(
    train: DataFrame, test: DataFrame, lam: float = 0.8
) -> DataFrame:
    """Held-out evaluation of the Jelinek-Mercer bigram LM: counts come
    from `train`, scoring runs over `test` — the actual LM-data workflow
    (`bigram_logprob` scores in-sample). Unseen events are finite by
    construction: the ML term drops to 0 when the context w1 is unseen,
    and the unigram floor is add-one smoothed over the train vocab
    ((c2+1)/(total+V+1)), so OOV w2 still yields a finite probability.

    Same scale shape as `bigram_logprob` (one shuffle for the train
    bigram relation, joined back shuffle-side; vocab + scalars
    broadcast); same determinism rules (one double expression, ln frozen
    to DECIMAL(18,9), exact-decimal per-doc sums). Output adds
    perplexity = exp(-mean_logprob)."""
    from ..functions import text as T

    t_toks = train.select(T.tokens().alias("t")).filter(F.size("t") >= 2)
    t_big = t_toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bigc = t_big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = (
        train.select(F.explode(T.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scalars = vocab.agg(
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).alias("v_size"),
    )

    s_toks = test.select("doc_id", T.tokens().alias("t")).filter(
        F.size("t") >= 2
    )
    s_big = s_toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")

    joined = (
        s_big.join(bigc, ["w1", "w2"], "left")
        .join(
            F.broadcast(
                vocab.select(F.col("token").alias("w1"), F.col("cnt").alias("c1"))
            ),
            "w1",
            "left",
        )
        .join(
            F.broadcast(
                vocab.select(F.col("token").alias("w2"), F.col("cnt").alias("c2"))
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(scalars))
    )
    ml_term = F.when(
        F.col("c1").isNotNull() & F.col("c12").isNotNull(),
        F.lit(lam)
        * (F.col("c12").cast("double") / F.col("c1").cast("double")),
    ).otherwise(F.lit(0.0))
    uni_term = F.lit(1.0 - lam) * (
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(1.0))
        / (
            F.col("total_tokens").cast("double")
            + F.col("v_size").cast("double")
            + F.lit(1.0)
        )
    )
    lp = F.log(ml_term + uni_term).cast("decimal(18,9)")
    mean_lp = F.round(
        F.sum(lp).cast("double") / F.count(F.lit(1)).cast("double"), 6
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        mean_lp.alias("mean_logprob"),
        F.round(F.exp(-mean_lp), 6).alias("perplexity"),
    )
