"""User-level analytics over the ``events`` table — set operations and
cardinality, the §2.8 surface the reference leaves empty (its only set
op is the implicit UNION ALL of a multi-file scan).

All operators are single-scan-per-branch with aggregate-before-set-op
shapes: the EXCEPT/INTERSECT runs over per-user aggregates (|users|
rows), never over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.cuts import percentile_disc, value_cuts
from data_pipeline_example_spark.functions.hashing import (
    _hll_params,
    hash_pct,
    hll_stage,
    kmv_estimate,
    md5_int,
)
from data_pipeline_example_spark.functions.materialize import materialize

NULL_USER_PREFIX = "\x00null\x00"


def user_key():
    """Per-user grouping key with no shared NULL group: ``user_id`` as
    a string, or ``'\\x00null\\x00' || event_id`` for a NULL user — a
    per-row unique key, so NULL-user rows are each alone in their
    partition and the shared-NULL hot key never forms. The batch
    anchors (:func:`event_debounce`, ``asof.attribution_last_touch``)
    and their streaming twins group on this one expression."""
    return F.coalesce(
        F.col("user_id").cast("string"),
        F.concat(F.lit(NULL_USER_PREFIX), F.col("event_id").cast("string")),
    )


def is_null_user_key(key) -> bool:
    """True for a synthetic :func:`user_key` of a NULL user — a key no
    later row can share, so a stream must persist no state for it."""
    return str(key).startswith(NULL_USER_PREFIX)


def _half_users(
    events: DataFrame, split: str, threshold: float, first: bool
) -> DataFrame:
    cond = F.col("ts") < F.to_timestamp(F.lit(split))
    return (
        events.filter(cond if first else ~cond)
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total"))
        .filter(F.col("total") > threshold)
        .select("user_id")
    )


def high_value_churn(
    events: DataFrame, split: str = "2024-01-15", threshold: float = 1500.0
) -> DataFrame:
    """Users above the value threshold before ``split`` but not after —
    EXCEPT (distinct set difference) over two thresholded aggregates.
    The HAVING sums are rounded to 2 dp so the threshold comparison is
    cross-engine deterministic. Output: user_id."""
    return _half_users(events, split, threshold, True).exceptAll(
        _half_users(events, split, threshold, False)
    ).distinct()


def high_value_retained(
    events: DataFrame, split: str = "2024-01-15", threshold: float = 1500.0
) -> DataFrame:
    """Users above the threshold in BOTH halves — INTERSECT. Output:
    user_id."""
    return _half_users(events, split, threshold, True).intersect(
        _half_users(events, split, threshold, False)
    )


def user_cardinality(events: DataFrame) -> DataFrame:
    """Exact vs approximate distinct-user counts per event type. The
    exact count is the oracle-checked value; ``approx_count_distinct``
    (HyperLogLog++, 2% default rsd) is the 100 TB path — fixed-size
    sketch per group instead of a distinct-shuffle — included here so
    the relative error is continuously visible next to the truth.
    Output: event_type, users_exact, users_approx."""
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users_exact"),
            F.approx_count_distinct("user_id").alias("users_approx"),
        )
        .orderBy("event_type")
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated value percentiles per event type (p50/p90/p99,
    4 dp). ``percentile`` is the exact sort-based implementation — at
    100 TB swap in ``approx_percentile`` (t-digest sketch, mergeable
    map-side) the same way ``user_cardinality`` pairs countDistinct with
    HLL. Output: event_type, p50, p90, p99."""
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def value_stats(events: DataFrame) -> DataFrame:
    """Distribution statistics per event type: sample stddev/variance of
    value and its correlation with time-of-day (seconds since midnight)
    — the moment aggregates (all algebraic, map-side combinable).

    Time-of-day is derived per the column's type so the result is
    session-timezone-invariant either way: TZ-aware TIMESTAMP uses epoch
    arithmetic (``unix_timestamp % 86400``, UTC midnight regardless of
    ``spark.sql.session.timeZone``); TIMESTAMP_NTZ — which only arises
    for callers that scan the parquet without ``load_table``'s
    nanos-rebuild — uses its timezone-free wall-clock fields directly
    (NTZ refuses both CAST-to-long and unix_timestamp).
    Output: event_type, sd_value, var_value, corr_value_tod."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        tod = (
            F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
        ).cast("double")
    else:
        tod = (F.unix_timestamp("ts") % 86400).cast("double")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 6).alias("sd_value"),
            F.round(F.var_samp("value"), 6).alias("var_value"),
            F.round(F.corr(F.col("value"), tod), 6).alias("corr_value_tod"),
        )
        .orderBy("event_type")
    )


def value_histogram(
    events: DataFrame, step: float = 50.0, n_buckets: int = 10
) -> DataFrame:
    """Fixed-width histogram of event values — width-bucket binning via
    portable arithmetic (``floor(value/step)`` clamped to the last
    bucket) so Spark and the oracle compute identical bucket ids.
    Single scan, |buckets| groups. Output: bucket, bucket_lo, n,
    total_value.
    """
    bucket = F.least(
        F.floor(F.col("value") / step), F.lit(n_buckets - 1)
    ).cast("int")
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * step, 2))
        .select("bucket", "bucket_lo", "n", "total_value")
        .orderBy("bucket")
    )


def hash_split_summary(
    events: DataFrame, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test split assignment — the
    training-data-pipeline staple. The split is a pure function of the
    row id (md5 of the id string, first 4 hex digits mod 100), so it is
    stable across runs, engines, partitionings, and cluster sizes — no
    RNG, no sampleBy. Output: split, n, total_value.
    """
    pct = hash_pct(F.col("event_id"))
    split = (
        F.when(pct < train_pct, "train")
        .when(pct < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return (
        events.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("split")
    )


def events_profile(events: DataFrame) -> DataFrame:
    """Per-column data-quality profile (null count + exact distinct
    count) in ONE pass over the table: a single multi-expression
    aggregate, then ``stack`` to long form — never one job per column.
    Output: col_name, null_count, distinct_count.
    """
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    wide = events.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', {c}__nulls, {c}__distinct" for c in cols)
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_expr}) AS (col_name, null_count, distinct_count)"
        )
    ).orderBy("col_name")


def props_key_stats(events: DataFrame) -> DataFrame:
    """JSON property extraction — pull ``$.k`` out of the ``props``
    JSON string column and aggregate by its decile. The extraction is a
    built-in JSON-path expression (JVM-side, codegen), not a UDF.
    Output: k_decile, n, avg_k, total_value.
    """
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.filter(k.isNotNull())
        .groupBy(F.floor(k / 10).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 4).alias(
                "avg_k"
            ),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("k_decile")
    )


def props_variant_stats(events: DataFrame) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type: the
    JSON ``props`` column is parsed ONCE into a variant
    (``parse_json``), and fields come out via typed ``variant_get``
    path lookups. Against repeated ``get_json_object`` string reparses
    (``props_key_stats``, kept as the classic twin) the variant form
    parses each document a single time into a binary-shredded value —
    at 100 TB of ragged JSON that is the difference between one decode
    and one-per-referenced-field. Output: k_decile, n, min_k, max_k.
    """
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        events.select(k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_decile")
    )


def salted_event_totals(events: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Per-type totals via the two-stage salted aggregation — the skew
    scale path producing results identical to a direct GROUP BY (which
    is exactly what its oracle checks). Sums are rounded only after the
    final combine. Output: event_type, total_value, n_events.
    """
    from data_pipeline_example_spark.functions.skew import salted_agg

    out = salted_agg(
        events, ["event_type"], {"value": "sum", "event_id": "count"},
        salt_buckets=salt_buckets,
    )
    return out.select(
        "event_type",
        F.round(F.col("sum_value"), 2).alias("total_value"),
        F.col("count_event_id").alias("n_events"),
    ).orderBy("event_type")


def user_reach_rollup(events: DataFrame, k: int = 64) -> DataFrame:
    """Mergeable-sketch rollup — the pattern that replaces re-scanning
    raw data for every reporting window at 100 TB: build one KMV
    cardinality sketch per (day, event_type) partial, then *union-merge
    the sketches* per event_type instead of re-reading events. KMV
    minima sets merge exactly like HLL registers (the k smallest of a
    union of per-day k-smallest sets ARE the union's k smallest — every
    global minimum survives in its own day's sketch, so the merge is
    commutative/associative AND lossless), but unlike the
    Spark-DataSketches HLL binaries this op previously rolled up
    (opaque → rows-only check), the merged estimate is a pure function
    of portable 48-bit md5 hashes and value-hash-matches the DuckDB
    oracle end to end.

    Plan: distinct (day, type, hash) triples (one map-side-combined
    dedup shuffle); per-(day, type) k-minima via a rank-≤-k window that
    Spark compiles with WindowGroupLimit (map tasks pre-trim to k rows
    per group BEFORE the exchange); the merge re-ranks the
    (type, hash)-distinct union of daily minima — (k × days) rows per
    type, never the corpus. Exact twin: `user_cardinality`.
    Output: event_type, daily_sketches, reach_estimate.
    """
    from pyspark.sql.window import Window

    hv = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type"),
            md5_int(F.col("user_id"), 12).alias("hv"),
        )
        .distinct()
    )
    wd = Window.partitionBy("d", "event_type").orderBy("hv")
    # the per-(day, type) k-minima frame is (k x days x types) rows —
    # bounded; materialized once (r15) so the merge re-rank and the
    # daily_sketches count stop re-running the corpus-sized distinct +
    # WindowGroupLimit twice
    daily = (
        hv.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= k)
        .transform(materialize)
    )
    wt = Window.partitionBy("event_type").orderBy("hv")
    sketch = (
        daily.select("event_type", "hv")
        .distinct()
        .withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= k)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth"))
    )
    days = daily.groupBy("event_type").agg(
        F.count_distinct("d").alias("daily_sketches")
    )
    return (
        days.join(sketch, "event_type")
        .select(
            "event_type", "daily_sketches", kmv_estimate(k).alias("reach_estimate")
        )
        .orderBy("event_type")
    )


def value_anomalies(events: DataFrame, z_threshold: float = 2.0) -> DataFrame:
    """Daily revenue outliers per event type (z-score screen).

    Aggregate to (day, event_type) totals — one shuffle keyed on a
    bounded composite — then score each day against its type's 30-day
    distribution with an unbounded window per type. The window operates
    on |days × types| rows (tiny after aggregation at any corpus scale),
    so the expensive part stays a plain map-side-combined hash
    aggregate. Output: event_type, day, total_value (2 dp),
    z (4 dp, |z| ≥ threshold).

    z is computed from the 2 dp-rounded totals (exact in both engines)
    with population stddev; the 4 dp round happens before the threshold
    filter so both engines make identical keep/drop decisions.
    """
    from pyspark.sql.window import Window

    daily = events.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("total_value"))
    w = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        "total_value",
        F.round(
            (F.col("total_value") - F.avg("total_value").over(w))
            / F.nullif(F.stddev_pop("total_value").over(w), F.lit(0.0)),
            4,
        ).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) >= z_threshold)


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-active
    day, counted on each subsequent active day.

    Shape at scale: distinct (user, day) pairs — one dedup shuffle over
    the raw scan, everything after operates on |users × active-days|
    rows. The cohort frame is |users|-sized; the join back is keyed on
    user_id (uniform). Output: cohort_day, day_offset, active_users.
    """
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


def event_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel: signup → view → click → purchase.

    Stage N counts users with a stage-N event strictly *after* their
    earliest stage-(N−1) completion — order-sensitive, unlike the naive
    "did all four" intersection. Each stage timestamp is a conditional
    min over the user partition referencing the previous stage's column,
    so all four windows share one partitioning: Spark plans a single
    user_id exchange + sort and chains the Window operators over it —
    per-user state, no self-joins, no iteration. Output: stage_idx,
    stage, users (users is monotonically non-increasing by construction).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    stages = ["signup", "view", "click", "purchase"]
    df = events.select("user_id", "event_type", "ts").withColumn(
        "t0", F.min(F.when(F.col("event_type") == stages[0], F.col("ts"))).over(w)
    )
    for i, stage in enumerate(stages[1:], start=1):
        df = df.withColumn(
            f"t{i}",
            F.min(
                F.when(
                    (F.col("event_type") == stage)
                    & (F.col("ts") > F.col(f"t{i-1}")),
                    F.col("ts"),
                )
            ).over(w),
        )
    per_user = df.groupBy("user_id").agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(len(stages))]
    )
    counts = per_user.agg(
        *[F.count(f"t{i}").alias(f"c{i}") for i in range(len(stages))]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', c{i}" for i, s in enumerate(stages)
    )
    return counts.selectExpr(
        f"stack({len(stages)}, {stack_args}) as (stage_idx, stage, users)"
    )


def user_cardinality_kmv(events: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-user estimate via a K-minimum-values sketch — the
    cardinality sketch whose estimate is ENGINE-DETERMINISTIC, unlike
    HLL++ (`user_cardinality`'s approx column is Spark-specific and
    excluded from its oracle; this one hash-matches end to end).

    KMV: hash every distinct user to a 48-bit value (first 12 hex chars
    of md5 — portable, same family as the dedup fingerprints), keep the
    k smallest; if the sketch saw fewer than k distinct hashes the
    estimate IS the exact count, else est = round((k-1) * 2^48 / kth
    smallest).  100 TB shape: `orderBy().limit(k)` compiles to
    TakeOrderedAndProject — each task keeps a k-row heap and only k rows
    per partition ever move, so the sketch costs one scan and a
    k-row-per-partition collect instead of a distinct shuffle (the
    mergeable-union property production KMV banks on).  The exact count
    is computed alongside (sketch-then-exact-recount, the repo's
    Misra-Gries discipline) so the relative error is continuously
    visible next to the truth.

    Output (one row): k, n_exact, kmv_estimate, rel_err (4 dp).
    """
    # the distinct-user frame materializes once (r15): the sketch path
    # and the exact count both branch from it, and lazy lineage re-ran
    # the corpus scan + distinct exchange twice
    u = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .transform(materialize)
    )
    hv = u.select(md5_int(F.col("user_id"), 12).alias("hv")).distinct()
    top = hv.orderBy("hv").limit(k)
    sketch = top.agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth")
    )
    exact = u.agg(F.count(F.lit(1)).alias("n_exact"))
    est = kmv_estimate(k)
    return (
        sketch.crossJoin(exact)
        .select(
            F.lit(k).alias("k"),
            F.col("n_exact"),
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
    )


def user_cardinality_kmv_by_type(events: DataFrame, k: int = 16) -> DataFrame:
    """Per-group KMV sketches: the `user_cardinality_kmv` estimator run
    per event_type in ONE pass — the shape a 100 TB per-source /
    per-day cardinality rollup actually uses (one sketch per group,
    each k hashes, instead of one distinct-shuffle per group).

    The per-group k-minimum selection is a rank-≤-k window, which Spark
    compiles with WindowGroupLimit: every map task pre-trims to k rows
    per group BEFORE the exchange, so the shuffle carries
    O(k × groups × tasks) hashes.  Estimates are engine-deterministic
    (same 48-bit md5 family), exact counts computed alongside.

    Output: event_type, n_exact, kmv_estimate, rel_err (4 dp).
    """
    from pyspark.sql.window import Window

    pairs = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type"),
            "user_id",
        )
        .distinct()
    )
    hv = pairs.select(
        "event_type", md5_int(F.col("user_id"), 12).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    sketch = (
        hv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth"))
    )
    exact = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = kmv_estimate(k)
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            est.alias("kmv_estimate"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
                "rel_err"
            ),
        )
        .orderBy("event_type")
    )


def skew_report(events: DataFrame, key: str = "user_id", top: int = 10) -> DataFrame:
    """Join/aggregation-key skew diagnosis — the pre-flight check
    before keying a 100 TB shuffle: the ``top`` heaviest values of
    ``key`` with their row share, and the corpus-wide skew factor
    (heaviest key count ÷ mean per-key count). A factor in the
    hundreds says "salt this key or let AQE split it" before the job
    runs, not after a straggler task spills.

    Plan: one map-side-combined count per key, heavy hitters via
    TakeOrdered over the key-cardinality frame (never the fact scan),
    totals as a 1-row broadcast. Ties rank by key value so the report
    is deterministic. Output: rank, key_value, n_rows, share_pct,
    skew_factor.
    """
    counts = events.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    heavy = (
        counts.orderBy(F.desc("n_rows"), F.asc("key_value"))
        .limit(top)
        .crossJoin(F.broadcast(totals))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("n_rows"), F.asc("key_value"))
    return heavy.select(
        F.row_number().over(w).alias("rank"),
        "key_value",
        "n_rows",
        F.round(F.col("n_rows") * 100.0 / F.col("total_rows"), 4).alias(
            "share_pct"
        ),
        F.round(
            F.col("n_rows") * F.col("n_keys") / F.col("total_rows").cast("double"),
            4,
        ).alias("skew_factor"),
    )


def join_size_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    k: int = 64,
) -> DataFrame:
    """Pre-join cardinality estimation from KMV sketches — answer
    "how big is this join's key overlap" from two single scans BEFORE
    keying a 100 TB shuffle. Distinct keys per side and of the union
    are KMV-estimated (the deterministic ``user_cardinality_kmv``
    machinery); the intersection uses the standard KMV Jaccard
    estimator (the fraction of the union sketch's minima present in
    both sides), and the exact distinct-key intersection is computed
    alongside so the estimator's error is continuously visible
    (sketch-then-exact-recount, the repo's Misra-Gries discipline).

    Plan: per-side distinct (map-side combined) → 48-bit md5 hash →
    TakeOrdered k-row sketches; membership marking joins k-row frames
    (broadcast). Output (one row): k, est_left, est_right, est_union,
    est_intersection, n_exact_intersection, rel_err (4 dp, vs exact;
    0 when exact is 0 and the estimate agrees).
    """
    def hashes(df: DataFrame, key: str) -> DataFrame:
        return (
            df.filter(F.col(key).isNotNull())
            .select(F.col(key).cast("string").alias("key_value"))
            .distinct()
            .select("key_value", md5_int(F.col("key_value"), 12).alias("hv"))
        )

    def sketch(top: DataFrame) -> DataFrame:
        return top.agg(F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth"))

    # each side's distinct-hash frame feeds FOUR consumers (per-side
    # sketch, union sketch, membership semi-joins, exact intersection);
    # materialize once so the fact tables are scanned once per side,
    # not once per consumer (PLANS.md scans column: 20 → 2)
    ha = hashes(left, left_key).transform(materialize)
    hb = hashes(right, right_key).transform(materialize)
    est_left, est_right = (
        sketch(h.select("hv").distinct().orderBy("hv").limit(k)).select(
            kmv_estimate(k).alias(name)
        )
        for h, name in ((ha, "est_left"), (hb, "est_right"))
    )
    hu = ha.select("hv").unionByName(hb.select("hv")).distinct()
    union_sketch = hu.orderBy("hv").limit(k)
    both = (
        union_sketch.join(ha.select("hv"), "hv", "left_semi")
        .join(hb.select("hv"), "hv", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    exact = ha.select("hv").join(hb.select("hv"), "hv", "left_semi").agg(
        F.count(F.lit(1)).alias("n_exact_intersection")
    )
    # est_intersection = HALF_UP((n_both * est_union) / n_seen) in
    # PURE long arithmetic — round(2a+b div 2b) — so the estimate can
    # never hit the double-rounding knife edge the dsir/bigram integer
    # discipline exists for (n_both ≤ k and est_union < 2^48, so the
    # numerator stays far inside long range). rel_err is a SINGLE
    # division + round(...,4) — the certified-safe shape.
    base = (
        est_left.crossJoin(est_right)
        .crossJoin(F.broadcast(sketch(union_sketch)))
        .crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_left",
            "est_right",
            kmv_estimate(k).alias("est_union"),
            F.greatest(F.col("n_seen"), F.lit(1)).alias("den"),
            "n_both",
            "n_exact_intersection",
        )
    )
    est_i = F.expr("(2 * n_both * est_union + den) div (2 * den)")
    return base.select(
        F.lit(k).alias("k"),
        "est_left",
        "est_right",
        "est_union",
        est_i.alias("est_intersection"),
        "n_exact_intersection",
        F.round(
            F.abs(est_i - F.col("n_exact_intersection"))
            / F.greatest(F.col("n_exact_intersection"), F.lit(1)),
            4,
        ).alias("rel_err"),
    )


def event_cooccurrence(events: DataFrame) -> DataFrame:
    """Event-type co-occurrence across users — the item-item affinity
    table (market-basket / collaborative-filter shape): for every pair
    of event types, how many users did BOTH, with Jaccard overlap and
    lift vs independence.

    Scale shape (r15 — the ``_basket_frames`` rewrite): ONE
    ``groupBy(user).collect_set`` exchange builds each user's sorted
    distinct-type array (collect_set dedups map-side — the old
    ``distinct()`` + user-keyed self-join paid a second corpus-sized
    exchange AND a corpus-sized SortMergeJoin, and its un-materialized
    (user, type) frame re-ran the corpus scan four times through
    branch lineage); pairs are generated in-array with the sorted
    transform × slice comprehension (type_a < type_b by construction,
    fan-out C(|types per user|, 2) — type-domain bounded). The basket
    frame materializes once; per-type and total counts read its
    blocks. All counts are exact longs; jaccard and lift are each
    one 4-dp division over pre-multiplied long operands. Output:
    type_a, type_b, n_both, jaccard, lift, ordered by the pair.
    """
    baskets = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
        .transform(materialize)
    )
    pair_struct = F.expr(
        "flatten(transform(types, (x, i) -> "
        "transform(slice(types, i + 2, size(types)), "
        "y -> struct(x AS type_a, y AS type_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_struct).alias("p"))
        .groupBy(
            F.col("p.type_a").alias("type_a"),
            F.col("p.type_b").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    per = (
        baskets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    pa = per.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    pb = per.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                4,
            ).alias("jaccard"),
            F.round(
                (F.col("n_both") * F.col("n_total")) / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


def event_rate_mad(events: DataFrame, k: int = 3) -> DataFrame:
    """Robust daily event-RATE anomalies per type: median / MAD screen
    over the (type, day) count frame — the robust twin of
    :func:`value_anomalies` (z-scores break when the outlier itself
    inflates the mean and stddev; median/MAD have a 50% breakdown
    point).

    Exactness: daily counts are integers, so the WHOLE screen is exact
    long arithmetic — |n − median| > k·MAD compares integers (the
    z-score twin needs the round-before-threshold discipline; MAD
    needs nothing). Medians are SQL ``percentile_disc`` semantics
    (value at rank ceil(n/2) — the segment_value_percentiles mapping),
    computed with a rank window over the AGGREGATED frame:
    #types × #days rows, calendar-bounded at any corpus scale, and the
    windows are PARTITIONED by type (each partition ≤ #days rows —
    never the single-task global sort). Output: anomalous days only —
    event_type, day, n_events, med_n, mad_n.
    """
    from pyspark.sql.window import Window

    # materialize the calendar-bounded (type, day) aggregate ONCE
    # (r15): the median, deviation, MAD and final screen all branch
    # from it, and un-materialized lineage re-ran the corpus scan +
    # count exchange four times; the checkpoint is #types × #days rows
    daily = (
        events.groupBy(F.col("event_type"), F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(materialize)
    )

    def _group_median(df: DataFrame, val: str, out: str) -> DataFrame:
        wr = Window.partitionBy("event_type").orderBy(F.asc(val), F.asc("day"))
        wc = Window.partitionBy("event_type")
        return (
            df.withColumn("_r", F.row_number().over(wr))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .groupBy("event_type")
            .agg(
                F.max(
                    F.when(
                        F.col("_r") == F.expr("(_n + 1) div 2"), F.col(val)
                    )
                )
                .cast("long")
                .alias(out)
            )
        )

    med = _group_median(daily, "n", "med_n")
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n") - F.col("med_n"))
    )
    mad = _group_median(dev, "dev", "mad_n")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("n") - F.col("med_n")) > k * F.col("mad_n"))
        .select(
            "event_type",
            "day",
            F.col("n").alias("n_events"),
            "med_n",
            "mad_n",
        )
        .orderBy("event_type", "day")
    )


def event_debounce(events: DataFrame, gap_s: int = 60) -> DataFrame:
    """Rapid-repeat suppression audit — how much of each event stream
    is the same user firing the same event type within ``gap_s``
    seconds of the previous one (double-clicks, retry storms, webhook
    replays). The ingestion-hygiene twin of :func:`user_sessions`:
    sessions group on inactivity gaps, debounce flags ACTIVITY bursts.

    Semantics — lag-based chain collapse: an event is *dropped* when
    the same user's previous event of the SAME type (ordered by
    ``(ts, event_id)``) is ≤ ``gap_s`` seconds earlier. A burst of n
    rapid repeats keeps only its first event; this is deliberately the
    lag-to-predecessor rule (every inter-event gap ≤ threshold), not
    the anchored-timer debounce, so it stays a pure window expression
    — one shuffle, no iteration — and the oracle replays it exactly.
    NULL-user events are never dropped (no identity to debounce
    against) and are excluded from the lag partition so they cannot
    collapse against each other through the shared NULL key.

    Scale: one window over (user_id, event_type) — per-user-per-type
    partitions, no global sort, no skew beyond a genuinely hyperactive
    user (AQE skew split absorbs). Output: event_type, n_events,
    n_dropped, n_kept, drop_micro (dropped fraction in integer
    micro-units: ``n_dropped*1e6 div n_events``).
    """
    from pyspark.sql.window import Window

    # NULL users get a per-row unique partition key: alone in their
    # window they have no lag predecessor (never dropped), and the
    # shared-NULL hot partition (memory'd skew hazard) never forms.
    w = Window.partitionBy(user_key(), "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    dropped = (
        F.col("user_id").isNotNull()
        & prev_ts.isNotNull()
        & (
            F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
            <= F.lit(int(gap_s))
        )
    ).cast("long")
    flagged = events.select("event_type", dropped.alias("is_dropped"))
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_dropped").cast("long").alias("n_dropped"),
        )
        .select(
            "event_type",
            "n_events",
            "n_dropped",
            (F.col("n_events") - F.col("n_dropped")).alias("n_kept"),
            F.expr("(n_dropped * 1000000) div n_events").alias("drop_micro"),
        )
        .orderBy("event_type")
    )


def funnel_dropoff_time(
    events: DataFrame, ps: tuple[float, ...] = (0.5, 0.9)
) -> DataFrame:
    """How LONG each funnel transition takes — exact p50/p90 of the
    seconds between a user's stage-(N−1) completion and their first
    stage-N event after it, for the :func:`event_funnel` chain
    signup → view → click → purchase. The funnel counts say WHERE
    users drop; this says how long the survivors linger — the latency
    a nurture campaign or session-timeout is tuned against.

    Stage timestamps reuse the funnel's chained conditional-min
    windows (ONE user_id exchange, order-sensitive semantics
    identical to :func:`event_funnel` by construction). The per-user
    frame then stacks to (stage, gap_s) rows and the percentiles use
    the ``functions.cuts.percentile_disc`` aggregate
    (``order_gap_percentiles`` precedent): rank ceil(p·N) located in a
    range-offset prefix histogram — SQL ``percentile_disc`` semantics,
    no per-stage sort, no driver state; n_users is the stage's
    ``n_rows`` column. Gaps are whole-second BIGINTs (`unix_timestamp`
    floors; DuckDB ``date_diff('second')`` matches). Output:
    stage_idx, stage, n_users, p50_gap_s, p90_gap_s.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    stages = ["signup", "view", "click", "purchase"]
    df = events.select("user_id", "event_type", "ts").withColumn(
        "t0", F.min(F.when(F.col("event_type") == stages[0], F.col("ts"))).over(w)
    )
    for i, stage in enumerate(stages[1:], start=1):
        df = df.withColumn(
            f"t{i}",
            F.min(
                F.when(
                    (F.col("event_type") == stage)
                    & (F.col("ts") > F.col(f"t{i-1}")),
                    F.col("ts"),
                )
            ).over(w),
        )
    per_user = df.groupBy("user_id").agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(len(stages))]
    )
    stack = ", ".join(
        f"{i}, '{stages[i]}', unix_timestamp(t{i}) - unix_timestamp(t{i-1})"
        for i in range(1, len(stages))
    )
    # value_cuts' repartitionByRange SAMPLES its child to draw range
    # boundaries, so feeding it the raw four-window subtree would
    # compute that subtree twice (sample pass + shuffle pass); over the
    # materialized blocks both passes are cheap re-scans
    gaps = per_user.selectExpr(
        f"stack({len(stages) - 1}, {stack}) as (stage_idx, stage, gap_s)"
    ).filter(F.col("gap_s").isNotNull()).transform(materialize)
    return (
        value_cuts(gaps, "gap_s", group_cols=("stage_idx", "stage"))
        .groupBy("stage_idx", "stage", F.col("n_rows").alias("n_users"))
        .agg(*[percentile_disc(p, "gap_s").alias(f"p{round(p * 100)}_gap_s") for p in ps])
        .orderBy("stage_idx")
    )


def event_markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the user-journey model behavioral pipelines fit for
    next-action prediction, synthetic-session generation, and funnel
    sanity checks (a transition the product can't produce showing up
    with mass = instrumentation bug). Reference analogue: extends the
    reference's per-window aggregation (streaming_sales_aggregator.py)
    with the sequential structure it never models.

    Sequence order is (ts NULLS FIRST, event_id) per user — event_id
    breaks timestamp ties so the lag is fully deterministic, and an
    event with no timestamp opens its user's sequence; null-user events
    carry no sequence and are excluded. Probabilities are integer
    milli-units per ROW of the matrix (n × 1000 div row total), so the
    output hash-matches the oracle exactly.

    Plan shape at 100 TB: ONE hash exchange on user_id feeds the lag
    window (grouped frame, no global sort — each task scans its users'
    sequences once), and the pair counts then collapse to the tiny
    event-type × event-type domain with map-side partial aggregation;
    the transition frame that leaves the executors is at most
    |types|² rows. Output: prev_event, next_event, n_transitions,
    prob_milli, ordered by (prev_event, next_event).
    """
    from pyspark.sql.window import Window

    # NULL ts first: Spark's ascending default, stated so the oracle
    # twin can say the same (DuckDB's default puts NULLs last)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_first("ts"), "event_id")
    pairs = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_event"),
            F.lag("event_type").over(w).alias("prev_event"),
        )
        .filter(F.col("prev_event").isNotNull())
    )
    # the |types|²-row transition frame is materialized so the row
    # totals read it instead of re-running the corpus lag window
    counts = (
        pairs.groupBy("prev_event", "next_event")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .transform(materialize)
    )
    totals = counts.groupBy("prev_event").agg(
        F.sum("n_transitions").alias("row_total")
    )
    return (
        counts.join(totals, "prev_event")
        .select(
            "prev_event",
            "next_event",
            "n_transitions",
            F.expr("(n_transitions * 1000) div row_total")
            .cast("long")
            .alias("prob_milli"),
        )
        .orderBy("prev_event", "next_event")
    )


def user_cardinality_hll(events: DataFrame, p_bits: int = 6) -> DataFrame:
    """Distinct-user HyperLogLog with ENGINE-DETERMINISTIC registers —
    the mergeable cardinality sketch (Flajolet et al. 2007, public)
    whose register table this op materializes explicitly so the
    estimate hash-matches a pure-SQL oracle (Spark's builtin
    approx_count_distinct seeds its own hash and can't be oracled;
    same motivation as :func:`user_cardinality_kmv`).

    Hash discipline: first 9 hex chars of md5 → 36 bits; the top
    ``p_bits`` select the register (m = 2^p_bits buckets), the low
    W = 36 − p_bits bits feed ρ = (leading zeros) + 1, computed
    WITHOUT floats as (W+1) − length(bin(suffix)) (bin() renders
    identically in Spark and DuckDB; suffix 0 pins ρ = W+1).
    Registers are built per event_type and the GLOBAL sketch is the
    register-wise max across types — the union-merge property done
    in-plan, which is the whole reason production pipelines ship HLL
    registers instead of counts. NULL event_type coalesces to the
    repo-wide 'unknown' sentinel BEFORE the rollup, so the NULL group
    can never collide with the rollup's grand-total row (which would
    duplicate the '__all__' scope and fan out the join).

    Estimate: α·m²/S with S = Σⱼ 2^(W+1−Mⱼ) (+ 2^(W+1) per empty
    bucket) — scaling by 2^(W+1) rather than 2^W keeps every shift
    non-negative even at the ρ = W+1 ceiling (a 2^−W event, but a
    negative shiftleft would silently wrap), and floor((2a)/(2b)) =
    floor(a/b) so the default-p estimate is bit-identical to the 2^W
    form. S is an EXACT int64 and the milli estimate is one integer
    division α_milli·m²·2^(W+1) div S (≤ ~6.5e18 numerator at
    p_bits = 16, in-range); α_milli is the standard per-m constant
    (673 / 697 / 709 for m = 16/32/64, 0.7213/(1+1.079/m) truncated
    to 3 digits above — Flajolet et al. 2007 Fig. 3; no
    small/large-range correction — this is the raw-estimate regime at
    every tested SF, and the exact count is computed alongside so the
    error is always visible).

    Output: scope ('__all__' + one row per event_type), n_exact,
    hll_estimate_milli, n_buckets_hit, ordered by scope.
    """
    m, w, alpha_milli = _hll_params(p_bits)
    users_by_type = events.filter(F.col("user_id").isNotNull()).select(
        F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type"),
        F.col("user_id"),
    )
    # register table: ONE events scan; the (types × m)-row result is
    # materialized so the global merge reads the tiny frame, not the
    # corpus again (r12 plan audit: the naive twin re-derived it — 8
    # scans / 11 exchanges for a sketch whose whole point is one pass)
    per_type = (
        hll_stage(users_by_type.distinct(), p_bits)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").cast("long").alias("reg"))
        .transform(materialize)
    )
    merged = per_type.groupBy("bucket").agg(F.max("reg").alias("reg")).select(
        F.lit("__all__").alias("scope"), "bucket", "reg"
    )
    regs = per_type.select(
        F.col("event_type").alias("scope"), "bucket", "reg"
    ).unionByName(merged)
    sketch = regs.groupBy("scope").agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), cast({w + 1} - reg as int))")
        ).alias("s_hit"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_hit"),
    )
    # exact counts: per-type + grand total in ONE pass via rollup
    # (event_type is sentinel-coalesced upstream, so the grouping NULL
    # row is UNAMBIGUOUSLY the '__all__' union; count_distinct is
    # rollup-safe — each grouping set recounts its own partition)
    exact = (
        users_by_type.rollup("event_type")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("__all__")).alias("scope"),
            "n_exact",
        )
    )
    numer = alpha_milli * m * m * (1 << (w + 1))
    est = sketch.select(
        "scope",
        "n_buckets_hit",
        F.expr(
            f"cast({numer} as bigint) div "
            f"(s_hit + ({m} - n_buckets_hit) * cast({1 << (w + 1)} as bigint))"
        )
        .cast("long")
        .alias("hll_estimate_milli"),
    )
    return (
        exact.join(est, "scope")
        .select("scope", "n_exact", "hll_estimate_milli", "n_buckets_hit")
        .orderBy("scope")
    )


def event_volume_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM changepoint detection over the daily event volume — the
    ingestion-drift monitor (Page 1954, public): the day where the
    cumulative deviation from the global mean rate peaks is the
    maximum-likelihood single changepoint of a level shift, which is
    what a pipeline watches to catch a source turning off, a crawler
    doubling, or an upstream schema break silently dropping rows.

    Exactness: deviations are scaled by the day count D so everything
    stays integer — dev_d = n_d·D − N (exact BIGINT), CUSUM is a
    running sum over the day-ordered frame, the changepoint is the
    max-|CUSUM| day (earliest on ties), and the before/after mean
    rates are 1e6-scaled integral divisions. The window runs over the
    DAY-GRANULAR aggregate (≤ a few thousand rows for years of data),
    never the event stream. Output (one row): split_day, n_days,
    cusum_abs_max, mean_before_micro, mean_after_micro.
    """
    from pyspark.sql.window import Window

    # the day-granular frame feeds both the totals and the CUSUM
    # window — materialize it so the corpus is scanned once
    daily = (
        # F3 semantics, explicit: an event without an event time has no
        # day — and a NULL day would sort differently under Spark
        # (NULLS FIRST) vs DuckDB (NULLS LAST) in the CUSUM window
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(materialize)
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            "total",
            "n_days",
            F.sum(F.col("n") * F.col("n_days") - F.col("total"))
            .over(w)
            .cast("long")
            .alias("cusum"),
            F.sum("n").over(w).cast("long").alias("cum_n"),
            F.row_number().over(Window.orderBy("d")).alias("rn"),
        )
    )
    best = cusum.orderBy(
        F.abs(F.col("cusum")).desc(), F.col("d").asc()
    ).limit(1)
    return best.select(
        F.col("d").alias("split_day"),
        "n_days",
        F.abs(F.col("cusum")).alias("cusum_abs_max"),
        F.expr("(cum_n * 1000000) div rn").cast("long").alias("mean_before_micro"),
        F.expr(
            "CASE WHEN n_days = rn THEN 0 ELSE "
            "((total - cum_n) * 1000000) div (n_days - rn) END"
        )
        .cast("long")
        .alias("mean_after_micro"),
    )


# Poisson(1) CDF thresholds in micro-units of a uniform draw — the
# inverse-CDF table the deterministic bootstrap weights come from
# (P[w=0]=e^-1, etc.; weights > 5 have probability < 6e-4 and clamp).
_POISSON1_MICRO = (367879, 735758, 919698, 981011, 996340)
# the same CDF in 16-bit units (floor(cdf * 65536)) for the sliced-
# digest uniforms
_POISSON1_U16 = (24109, 48218, 60273, 64291, 65296)


def bootstrap_revenue_ci(events: DataFrame, n_boot: int = 16) -> DataFrame:
    """Deterministic Poisson bootstrap of total event revenue — the
    resampling scheme that actually works on distributed data (Chamandy
    et al. 2012, public: multinomial resampling needs the row count up
    front and a global shuffle; Poisson(1) weights are per-row
    independent, so each replicate is ONE weighted sum in the same
    scan). Here the weights are DERANDOMIZED: TWO md5 digests per row
    (md5(id ':a'), md5(id ':b')) yield 64 hex chars = sixteen 16-bit
    uniforms, and replicate b's weight is the Poisson(1) inverse-CDF of
    its slice — reproducible across runs, partitionings, and engines,
    so the whole CI hash-matches a SQL oracle (the hash_split_summary
    discipline applied to resampling). Two hashes instead of B: the
    first-cut one-md5-per-replicate version measured 16.6 s at sf10,
    hash-bound — slicing cuts the digest work 8x for the same
    independence story (distinct 16-bit windows of independent
    digests).

    Plan: ONE scan computing all ``n_boot`` weighted sums as parallel
    aggregates (map-side combined; no explode — the B× row blow-up
    never materializes), then order statistics over the B-row totals
    frame. All integer cents. Output (one row): n_events, point_cents,
    boot_mean_cents (div-floor), boot_lo_cents / boot_hi_cents (the
    2nd and (B−1)th order statistics — the central 7/8 band at B=16).
    """
    from pyspark.sql.window import Window

    if n_boot > 16:
        raise ValueError(f"16-bit slicing yields at most 16 replicates, got n_boot={n_boot}")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    th = _POISSON1_U16

    def weight(b: int):
        u = F.conv(F.substring(F.col("h"), 4 * b + 1, 4), 16, 10).cast("long")
        w = F.lit(5)
        for k in range(len(th) - 1, -1, -1):
            w = F.when(u < th[k], F.lit(k)).otherwise(w)
        return w

    ids = F.col("event_id").cast("string")
    staged = events.select(
        cents.alias("cents"),
        F.concat(
            F.md5(F.concat(ids, F.lit(":a"))), F.md5(F.concat(ids, F.lit(":b")))
        ).alias("h"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("point_cents")]
    aggs += [
        F.sum(weight(b) * F.col("cents")).cast("long").alias(f"t_{b}")
        for b in range(n_boot)
    ]
    wide = staged.agg(*aggs)
    stack = ", ".join(f"{b}, t_{b}" for b in range(n_boot))
    totals = wide.select(
        "n_events",
        "point_cents",
        F.expr(f"stack({n_boot}, {stack}) AS (b, total)"),
    ).select(
        "n_events",
        "point_cents",
        F.col("total"),
        F.row_number().over(Window.orderBy("total", "b")).alias("rk"),
    )
    return totals.groupBy("n_events", "point_cents").agg(
        F.expr(f"sum(total) div {n_boot}").cast("long").alias("boot_mean_cents"),
        F.max(F.when(F.col("rk") == 2, F.col("total")))
        .cast("long")
        .alias("boot_lo_cents"),
        F.max(F.when(F.col("rk") == n_boot - 1, F.col("total")))
        .cast("long")
        .alias("boot_hi_cents"),
    )


def loo_target_encoding(events: DataFrame) -> DataFrame:
    """Leave-one-out target encoding of event_type against value — the
    feature-engineering staple for high-cardinality categoricals
    (Micci-Barreca 2001, public): each row gets the mean target of its
    OWN category computed WITHOUT itself, the standard leakage guard
    (including the row would let the feature memorize its own label).
    Singleton categories fall back to the global leave-one-out mean
    (the usual prior), and a 1-row corpus encodes 0.

    Exactness: integer cents and one two-step integral division
    ((sum − own)·1000 div (n − 1) → milli-cents), so every row
    hash-matches the oracle. Plan: ONE scan; the per-type sums are a
    |types|-row aggregate broadcast back (map-side combined exchange
    carries |types| rows, the corpus never reshuffles). Output:
    event_id, event_type, cents, loo_mean_millicents, ordered by
    event_id.
    """
    base = events.select(
        "event_id",
        F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    per_type = base.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("t_sum"),
        F.count(F.lit(1)).cast("long").alias("t_n"),
    )
    # global totals fold over the bounded per-type aggregate instead of
    # re-scanning the corpus (r15): per_type partitions ALL base rows
    # (NULL types coalesce to 'unknown'), so summing its exact long
    # sums/counts is value-identical — one corpus scan saved
    glob = per_type.agg(
        F.sum("t_sum").cast("long").alias("g_sum"),
        F.sum("t_n").cast("long").alias("g_n"),
    )
    return (
        base.join(F.broadcast(per_type), "event_type")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_id",
            "event_type",
            "cents",
            F.expr(
                "CASE WHEN t_n > 1 THEN ((t_sum - cents) * 1000) div (t_n - 1) "
                "WHEN g_n > 1 THEN ((g_sum - cents) * 1000) div (g_n - 1) "
                "ELSE 0 END"
            )
            .cast("long")
            .alias("loo_mean_millicents"),
        )
        .orderBy("event_id")
    )


def event_trigrams(events: DataFrame, top_n: int = 20) -> DataFrame:
    """Top user journeys as event-type trigrams — the path-analysis
    rollup one order above :func:`event_markov_transitions`' pairwise
    matrix: which exact 3-step sequences dominate (the input a sankey
    / funnel-design review reads). Same deterministic sequence order
    ((ts, event_id) per user), double lag, null-user rows excluded.

    Plan: one user_id exchange feeds both lags in a single grouped
    window pass; the trigram counts collapse to the ≤ |types|³ domain
    with map-side combine, and the top-n is a TakeOrdered. Output:
    e1, e2, e3, n_paths — top_n by (n_paths DESC, e1, e2, e3).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .filter(F.col("e1").isNotNull())
    )
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(top_n)
    )
