"""As-of (point-in-time) join — matching each left row to the most
recent right row at-or-before its timestamp, per key.

Spark has no native ASOF JOIN; the naive formulation (left⋈right on
``r.ts <= l.ts`` + keep max) is a per-key cross product. This module
uses the *union trick* instead: tag both sides, union them, and carry
the latest right-side payload forward with ``last(..., ignorenulls)``
over a (key, time)-ordered running window. One shuffle on the key, no
pair blow-up — each row is touched once, so the cost is
O((|L|+|R|) log) regardless of how many right rows precede each left
row. This is the scale path for 100 TB event tables.

Determinism: rows are ordered by (ts, side, event_id) with right rows
first, so equal-timestamp right rows ARE visible to a left row at the
same instant (<= semantics) and ties resolve to the highest right
event_id — the oracle mirrors this with ``ORDER BY v.ts DESC,
v.event_id DESC`` under ``row_number() = 1``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.operators.users import user_key


def asof_join_events(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "view",
) -> DataFrame:
    """For each ``left_type`` event, the most recent ``right_type``
    event of the same user at-or-before it (NULL if none).

    Output: purchase_id, user_id, purchase_ts, asof_view_id,
    asof_view_ts, gap_s (whole seconds between the two).
    """
    tagged = events.filter(
        F.col("event_type").isin(left_type, right_type)
    ).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == left_type).cast("int").alias("is_left"),
        F.when(F.col("event_type") == right_type, F.col("ts")).alias("r_ts"),
        F.when(F.col("event_type") == right_type, F.col("event_id")).alias("r_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_left"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("asof_view_ts", F.last("r_ts", ignorenulls=True).over(w))
        .withColumn("asof_view_id", F.last("r_id", ignorenulls=True).over(w))
        .filter(F.col("is_left") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "asof_view_id",
            "asof_view_ts",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("asof_view_ts")
            ).alias("gap_s"),
        )
    )


def range_join_counts(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "error",
    band_s: int = 300,
) -> DataFrame:
    """Band (range) join: for each ``left_type`` event, how many
    ``right_type`` events of the same user fall within ±``band_s``
    seconds. Spark has no native range join either; the naive
    formulation (`ON r.ts BETWEEN l.ts - Δ AND l.ts + Δ`) degenerates to
    a per-user cross product that a 100 TB event table cannot survive.

    Scale path — bucketized band join: both sides bucket their epoch
    second by the band width, the LEFT side explodes to its three
    adjacent buckets ({b−1, b, b+1} — any row within ±Δ of it must land
    there), and the join is a plain EQUI-join on (user_id, bucket)
    followed by the exact band predicate. Each right row lives in
    exactly one bucket, so no pair is counted twice; shuffle volume is
    3·|L| + |R| rows keyed uniformly by (user, time-bucket) — skew
    appears only if one user has a hot 5-minute window, which AQE's
    skew-join splitting absorbs.

    Band semantics are on WHOLE epoch seconds (`unix_timestamp`
    truncation; the oracle mirrors with floor(epoch())) so both engines
    make identical in/out decisions at the boundary. Output:
    purchase_id, user_id, n_nearby (0 when none — left join).
    """
    lhs = events.filter(F.col("event_type") == left_type).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("l_sec"),
    )
    rhs = events.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.unix_timestamp("ts").alias("r_sec"),
        (F.unix_timestamp("ts") / band_s).cast("long").alias("bucket"),
    )
    probes = lhs.select(
        "purchase_id",
        "user_id",
        "l_sec",
        F.explode(
            F.array(
                (F.col("l_sec") / band_s).cast("long") - 1,
                (F.col("l_sec") / band_s).cast("long"),
                (F.col("l_sec") / band_s).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    matched = probes.join(
        rhs,
        (F.col("user_id") == F.col("r_user"))
        & (probes["bucket"] == rhs["bucket"])
        & (F.abs(F.col("r_sec") - F.col("l_sec")) <= band_s),
        "left",
    )
    return matched.groupBy("purchase_id", "user_id").agg(
        F.count("r_id").alias("n_nearby")
    )


def attribution_last_touch(
    events: DataFrame,
    purchase_type: str = "purchase",
    lookback_s: int = 7 * 86400,
) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the channel (event_type) of the same user's most
    recent NON-purchase event at-or-before it, provided that touch is
    within ``lookback_s`` seconds; purchases with no touch in the
    window (or no user identity) credit the sentinel ``unattributed``
    channel. The channel-level revenue rollup built on
    :func:`asof_join_events`' union trick — same one-shuffle as-of
    mechanics, but carrying a (ts, event_id, event_type) struct so ANY
    touch type can win, and folding the result to |channels| rows.

    Determinism: window order is (ts, is_purchase, event_id) — equal-
    timestamp touches ARE visible (<= semantics) and ties resolve to
    the highest touch event_id, the module's standard rule.

    Exactness: purchase values are 2-dp-rounded to integer CENTS
    before the sum; revenue is ONE division + 2-dp round;
    revenue_share is integer micro-units ``cents*1e6 div total_cents``
    (guarded for a zero total). Scale: one (user-keyed) shuffle over
    touch+purchase events, one |channels|-sized aggregate — no pair
    blow-up regardless of touches-per-user. NULL-user purchases skip
    the window via a per-row unique key (no shared-NULL partition).
    Output: channel, n_purchases, revenue, share_micro.
    """
    is_purchase = (F.col("event_type") == purchase_type).cast("int")
    touch = F.when(
        F.col("event_type") != purchase_type,
        F.struct(
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    tagged = events.select(
        user_key().alias("ukey"),
        "ts",
        "event_id",
        "user_id",
        "value",
        is_purchase.alias("is_left"),
        touch.alias("touch"),
    )
    w = (
        Window.partitionBy("ukey")
        .orderBy(F.asc("ts"), F.asc("is_left"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.round(F.col("value"), 2) * 100, 0).cast("long")
    attributed = (
        tagged.withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
        .filter(F.col("is_left") == 1)
        .select(
            F.when(
                F.col("last_touch").isNotNull()
                & (
                    F.unix_timestamp("ts")
                    - F.unix_timestamp("last_touch.t_ts")
                    <= F.lit(int(lookback_s))
                ),
                F.col("last_touch.t_type"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("channel"),
            F.coalesce(cents, F.lit(0)).alias("c"),
        )
    )
    per = attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("c").alias("cents"),
    )
    # total as an unpartitioned window over the bounded channel
    # aggregate (r15): the lazy crossJoin total re-ran the corpus-sized
    # attribution window + scan a second time
    wtot = Window.partitionBy()
    return (
        per.withColumn("total_cents", F.sum("cents").over(wtot))
        .select(
            "channel",
            "n_purchases",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.expr(
                "CASE WHEN total_cents = 0 THEN 0 "
                "ELSE (cents * 1000000) div total_cents END"
            ).alias("share_micro"),
        )
        .orderBy("channel")
    )
