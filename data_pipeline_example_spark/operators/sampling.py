"""Deterministic sampling operators — training-data-pipeline staples.

A 100 TB curation pipeline samples constantly (per-source mixing rates,
eval holdouts, debugging subsets). Random sampling (``df.sample`` /
``sampleBy``) is irreproducible across runs and partitionings, so every
operator here derives its sampling decision from a *hash of the row id*
(md5, portable to the SQL oracle) — the decision is a pure function of
the row, stable under re-partitioning, retries, and engine choice, and
the "sample" is re-derivable from the raw data at any time (no need to
persist sample membership).

All operators are single-scan column expressions (no UDFs, no shuffles
beyond what the aggregation itself needs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.hashing import hash_pct, md5_int

# per-stratum inclusion percentages for stratified_sample: the mixing
# weights a corpus-curation job applies per source/type
DEFAULT_RATES: dict[str, int] = {
    "click": 5,
    "view": 5,
    "purchase": 60,
    "error": 90,
    "signup": 30,
}
DEFAULT_PCT = 10


def stratified_sample(
    events: DataFrame,
    rates: dict[str, int] | None = None,
    default_pct: int = DEFAULT_PCT,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash
    bucket falls under its stratum's inclusion percentage. One scan,
    filter-only — no shuffle at all; at 100 TB this is a parquet scan
    with the row-hash predicate evaluated in codegen.

    Output: event_id, event_type, value — the sample itself (membership
    is the operator's contract, so the sample rows are the result).
    """
    rates = DEFAULT_RATES if rates is None else rates
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col("event_type") == stratum, pct).otherwise(rate)
    return events.filter(hash_pct(F.col("event_id")) < rate).select(
        "event_id", "event_type", "value"
    )


def reservoir_sample(events: DataFrame, k: int = 20) -> DataFrame:
    """Fixed-size-per-stratum sample: the k rows with the smallest
    (md5(id), id) rank in each event_type — a deterministic stand-in for
    per-group reservoir sampling (uniform over the stratum under the
    hash's mixing, reproducible across runs/engines, unlike an actual
    streaming reservoir whose content depends on encounter order).

    Shape: one row_number window per stratum. Spark's WindowGroupLimit
    optimization (rank-limit pushdown) keeps this scale-correct — each
    map task pre-trims its partition to k rows per group BEFORE the
    shuffle, so the exchange carries O(k × strata × tasks) rows, not the
    full table. Output: event_type, event_id, value, rk.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("event_type", "event_id", "value", "rk")
    )


def value_quantile_sketch(
    events: DataFrame, accuracy: int = 100_000
) -> DataFrame:
    """Per-stratum quantiles via Spark's mergeable quantile sketch
    (``percentile_approx``, Greenwald-Khanna) — the sketch workload
    class next to the HLL rollup: per-partition sketches merge
    associatively, so the shuffle carries fixed-size summaries instead
    of values, and rollups over partitions/days compose.

    With ``accuracy`` >= the stratum row count the sketch degrades to
    exact nearest-rank selection — which is how the oracle pins it at
    every test sf (strata are ≤ ~20k rows at sf0.1, under the default
    accuracy); at 100 TB the same query runs with bounded memory —
    O(accuracy · log n) per stratum — and principled 1/accuracy quantile
    rank error. Output: event_type, p50, p90, p99.
    """
    qs = F.percentile_approx("value", [0.5, 0.9, 0.99], accuracy)
    return (
        events.groupBy("event_type")
        .agg(qs.alias("q"))
        .select(
            "event_type",
            F.round(F.element_at("q", 1), 2).alias("p50"),
            F.round(F.element_at("q", 2), 2).alias("p90"),
            F.round(F.element_at("q", 3), 2).alias("p99"),
        )
        .orderBy("event_type")
    )


def priority_sample(
    documents: DataFrame, k: int = 50, weight_col: str = "n_chars"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact size k — the
    Efraimidis-Spirakis A-ES scheme, deterministic: each row gets
    priority key ln(u)/w where u ∈ (0,1] is its md5 hash fraction
    (48-bit, same family as every sampler here) and w its weight; the
    k largest keys ARE a weighted sample without replacement.  This is
    the exact-k counterpart of `mixture_sample`'s rate-based
    (expected-size) membership — the op a data-mixing job needs when
    the budget is "exactly k documents, long ones proportionally more
    likely", e.g. token-weighted subset selection.

    Keys are rounded to 12 dp before ranking: ln() may differ in the
    last ulp across engines and ranking on the rounded key keeps the
    sample cross-engine identical (same discipline as the 6-dp cosine
    ordering), with doc_id as the total-order tie-break.  Rows with
    NULL or non-positive weight are excluded (ln(u)/w flips sign).

    Scale shape: one scan, pure expressions, `orderBy().limit(k)` →
    TakeOrderedAndProject — per-task k-row heaps, only k rows per
    partition move.  Output: doc_id, weight, sample_key.
    """
    w = F.col(weight_col).cast("double")
    u = (md5_int(F.col("doc_id"), 12).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 48)
    )
    key = F.round(F.log(u) / w, 12)
    return (
        documents.filter(w.isNotNull() & (w > 0))
        .select("doc_id", w.alias("weight"), key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(k)
    )
