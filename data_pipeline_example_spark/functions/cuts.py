"""Distributed equal-frequency "cuts" — global (or per-group) order
statistics with no driver state, never Θ(distinct values) anywhere.

The cuts discipline replaces an unpartitioned ordered window (every
row through ONE task) with per-VALUE prefix counts joined back onto
the rows. The equal-frequency family — NTILE tiles, ``percentile_disc``
percentiles and running budgets — is built on this one module:

1. histogram: ``groupBy(group…, value).count()`` — map-side combined,
   one row per distinct (group, value), stays on executors;
2. ``repartitionByRange`` on (group asc…, value) — equal keys never
   split across partitions, partition order follows value order, and
   partition SIZES are balanced by sampling (no hot-value straggler).
   The ranged frame is materialized (the shared
   :mod:`~data_pipeline_example_spark.functions.materialize` seam):
   the per-partition offsets and the rows both read its partition ids,
   and re-evaluating the range exchange under AQE could re-draw the
   boundaries between the two reads;
3. per-(partition, group) totals — contiguity bounds this frame at
   ≤ #partitions + #groups − 1 rows — are joined to themselves within
   each group (a broadcast join), giving every (partition, group) its
   offset (the totals of the group's earlier partitions) and the
   group's ``n_rows`` (and ``weight_sum``) as columns;
4. per-value ``cum_before`` (and optional weighted ``mass_before``) =
   offset + intra-partition running sum over a window PARTITIONED BY
   (partition id, group) — a hash exchange, never a global order.

Nothing is collected to the driver: the group totals ride every cuts
row, so a caller's tile or percentile arithmetic is a column
expression (:func:`ntile_expr`, :func:`percentile_disc`) and an empty
input yields an empty result without a branch. Aggregate a cuts frame
grouped by at least ``n_rows``: a global aggregate returns one row
even over an empty input.

Eager-construction contract: step 2's materialization runs Spark jobs
(the range sample and the checkpoint) at DataFrame-construction time.
Default is a ``localCheckpoint`` (unreplicated executor blocks — an
executor loss makes the frame unrecoverable); set a reliable
checkpoint dir to switch every site to replicated ``checkpoint()`` for
long-lived plans. Offsets and totals are exact for integral and
decimal weights (a float weight's sums may differ in the last ulp with
the partition layout).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions.materialize import materialize


def value_cuts(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Per-distinct-value prefix statistics, distributed: one row per
    distinct (group…, value) with columns
    ``group_cols + [value_col, cnt, cum_before, n_rows]`` — plus
    ``mass_before`` and ``weight_sum`` when ``weight_col`` is given.

    ``cnt`` is the row count at that value, ``cum_before`` the number
    of rows in the same group strictly BEFORE it in the sort order
    (ascending by default, descending when ``descending``),
    ``mass_before`` the sum of the weight over the strictly-preceding
    values, and ``n_rows`` / ``weight_sum`` the group's row count and
    weight total. The frame is DISTRIBUTED — join it back on
    (group…, value) with :func:`join_cuts` or :func:`rank_rows`.

    NULL group values are kept as their own group (matching SQL
    ``PARTITION BY`` semantics); NULL values sort first ascending.
    """
    gcols = list(group_cols)
    sums = {"cnt": ("_off_cnt", "n_rows")}
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if weight_col is not None:
        sums["_w"] = ("_off_w", "weight_sum")
        aggs.append(F.sum(weight_col).alias("_w"))
    order = F.desc(value_col) if descending else F.asc(value_col)
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.groupBy(*gcols, value_col)
        .agg(*aggs)
        .repartitionByRange(n_parts, *gcols, order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize)
    )
    keys = ["_pid", *gcols]
    part = ranged.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
    # fresh attribute ids for the self-join side and for the keys the
    # offsets are joined back on (both derive from ``ranged``)
    other = part.toDF(*[f"_o{c}" for c in part.columns])
    same_group = F.lit(True)
    for c in gcols:
        same_group = same_group & part[c].eqNullSafe(other[f"_o{c}"])
    earlier = other["_o_pid"] < part["_pid"]
    offsets = (
        part.join(F.broadcast(other), same_group)
        .groupBy(*[part[k].alias(f"_k{k}") for k in keys])
        .agg(
            *[
                F.sum(F.when(earlier, other[f"_o{c}"]).otherwise(0)).alias(off)
                for c, (off, _) in sums.items()
            ],
            *[F.sum(other[f"_o{c}"]).alias(tot) for c, (_, tot) in sums.items()],
        )
    )
    on = ranged["_pid"] == offsets["_k_pid"]
    for c in gcols:
        on = on & ranged[c].eqNullSafe(offsets[f"_k{c}"])
    wp = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = [
        *gcols,
        value_col,
        "cnt",
        (F.col("_off_cnt") + F.sum("cnt").over(wp) - F.col("cnt")).alias("cum_before"),
        "n_rows",
    ]
    if weight_col is not None:
        out += [
            (F.col("_off_w") + F.sum("_w").over(wp) - F.col("_w")).alias("mass_before"),
            "weight_sum",
        ]
    return ranged.join(F.broadcast(offsets), on).select(*out)


def ntile_expr(rank: Column, n_rows: Column, tiles: int) -> Column:
    """The SQL ``NTILE(tiles)`` bucket (1-based) of a 1-based ``rank``
    among ``n_rows`` rows, as pure integer arithmetic.

    NTILE gives the first ``r = n_rows mod tiles`` buckets ``q+1`` rows
    (``q = n_rows div tiles``) and the rest ``q``; the closed form is
    ``ceil(rank/(q+1))`` inside the first ``r(q+1)`` ranks and
    ``r + ceil((rank - r(q+1))/q)`` after. Integer ``div`` only — a
    double division could misround the ceil at exact multiples once
    ranks exceed 2^53."""
    q = _div(n_rows, F.lit(tiles))
    r = n_rows % tiles
    head = r * (q + 1)
    qd = F.greatest(q, F.lit(1))  # q=0 → the tail branch is unreachable
    return F.when(rank <= head, _div(rank + q, q + 1)).otherwise(
        r + _div(rank - head + qd - 1, qd)
    )


def _div(a: Column, b: Column) -> Column:
    """SQL integer ``a div b`` (truncating)."""
    return F.call_function("div", a, b)


def value_at_rank(rank: Column, value_col: str) -> Column:
    """Aggregate over cuts rows: the value at 1-based ``rank`` of its
    group — the one cuts row whose rank interval
    ``(cum_before, cum_before + cnt]`` contains it."""
    hit = (F.col("cum_before") < rank) & (rank <= F.col("cum_before") + F.col("cnt"))
    return F.max(F.when(hit, F.col(value_col)))


def percentile_disc(p: float, value_col: str) -> Column:
    """Aggregate over cuts rows: SQL ``percentile_disc(p)`` of the
    group — the value at rank ``max(ceil(p · n_rows), 1)``."""
    rank = F.greatest(F.ceil(F.lit(float(p)) * F.col("n_rows")), F.lit(1))
    return value_at_rank(rank, value_col)


def rank_rows(
    df: DataFrame,
    cuts: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """:func:`join_cuts`, plus each row's 1-based ``rank`` in its group
    under ORDER BY (value in the cuts' direction, ``order_col``):
    ``cum_before`` + its ``row_number`` among the rows of its own
    value — a window PARTITIONED BY (group…, value), never a global
    order."""
    w = Window.partitionBy(*group_cols, value_col).orderBy(order_col)
    return join_cuts(df, cuts, value_col, group_cols).withColumn(
        "rank", F.col("cum_before") + F.row_number().over(w)
    )


def join_cuts(
    df: DataFrame,
    cuts: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Attach a :func:`value_cuts` frame back onto its source rows.

    Null-safe equi-join on (group…, value) — NULL groups survive (SQL
    ``PARTITION BY`` keeps NULL as a group; a plain inner join would
    silently drop those rows). Every source row matches exactly one
    cuts row, so no row multiplication. The cuts side's key columns
    are renamed first: ``cuts`` shares attribute lineage with ``df``
    (it was derived from it), and a same-exprId join condition leans
    on Spark's dataset-id disambiguation — renaming mints fresh
    attribute ids instead."""
    renamed = cuts.withColumnRenamed(value_col, "_cut_v")
    for i, c in enumerate(group_cols):
        renamed = renamed.withColumnRenamed(c, f"_cut_g{i}")
    cond = df[value_col].eqNullSafe(renamed["_cut_v"])
    for i, c in enumerate(group_cols):
        cond = cond & df[c].eqNullSafe(renamed[f"_cut_g{i}"])
    return df.join(renamed, cond).drop(
        "_cut_v", *[f"_cut_g{i}" for i in range(len(group_cols))]
    )
