"""Distributed equal-frequency "cuts" — global (or per-group) order
statistics with driver state O(#partitions + #groups), never
Θ(distinct values).

The cuts discipline replaces an unpartitioned ordered window (every
row through ONE task) with per-VALUE prefix counts joined back onto
the rows. Earlier rounds collected the whole value histogram to the
driver — fine for genuinely bounded domains (token counts), but a
2-dp money domain is near-unique per customer, so that collect was
Θ(|customers|) at the 100× frame. This module computes the SAME
per-value prefix sums distributedly:

1. histogram: ``groupBy(group…, value).count()`` — map-side combined,
   one row per distinct (group, value), stays on executors;
2. ``repartitionByRange`` on (group asc…, value) — equal keys never
   split across partitions, partition order follows value order, and
   partition SIZES are balanced by sampling (no hot-value straggler);
   the ranged frame is ``localCheckpoint``-ed so the partition ids the
   offsets were collected from are the partition ids the final plan
   reads (re-evaluating the range exchange under AQE could re-draw
   boundaries between jobs);
3. per-(partition, group) totals are collected — contiguity bounds
   this at ≤ #partitions + #groups − 1 rows — prefix-summed on the
   driver, and broadcast back as offsets;
4. per-value ``cum_before`` (and optional weighted ``mass_before``) =
   offset + intra-partition running sum over a window PARTITIONED BY
   (partition id, group) — a hash exchange, never a global order.

Eager-construction contract: step 2's materialization (the shared
:mod:`~data_pipeline_example_spark.functions.materialize` seam) runs a
Spark job at DataFrame-construction time. Default is a
``localCheckpoint`` (unreplicated executor blocks — an executor loss
makes the frame unrecoverable); set a reliable checkpoint dir to
switch every site to replicated ``checkpoint()`` for long-lived plans.

``LAST_DRIVER_ROWS`` records the size of the most recent step-3
collect so tests can pin the O(#partitions + #groups) bound.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions.materialize import materialize

#: rows collected to the driver by the most recent value_cuts call.
#: Convenience alias for single-threaded tests ONLY — operators that
#: call value_cuts more than once overwrite it, and concurrent query
#: threads interleave writes. The authoritative per-call figure is
#: ``totals.driver_rows`` on the returned :class:`CutsTotals`.
LAST_DRIVER_ROWS: int = 0


class CutsTotals(dict):
    """``{group_tuple: (n_rows, weight_sum)}`` plus per-call driver
    diagnostics: ``driver_rows`` is the exact number of rows THIS
    :func:`value_cuts` call collected to the driver (the
    O(#partitions + #groups) bound the tests pin), immune to the
    module-global's overwrite/interleave hazards."""

    driver_rows: int = 0


def _conf_partitions(raw, default: int = 200) -> int:
    """Partition count from ``spark.sql.shuffle.partitions``, tolerant
    of non-numeric values: AQE auto shuffle partitions (e.g.
    Databricks) sets the conf to the string ``"auto"``, and a bare
    ``int()`` would raise at operator CONSTRUCTION time, failing every
    cuts-backed query on such deployments."""
    s = str(raw) if raw is not None else ""
    return int(s) if s.isdigit() else default


def value_cuts(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    descending: bool = False,
) -> tuple[DataFrame, "CutsTotals"]:
    """Per-distinct-value prefix statistics, distributed.

    Returns ``(cuts, totals)``:

    * ``cuts`` — one row per distinct (group…, value):
      ``group_cols + [value_col, cnt, cum_before(, mass_before)]``
      where ``cnt`` is the row count at that value, ``cum_before`` the
      number of rows in the same group strictly BEFORE it in the sort
      order (ascending by default, descending when ``descending``),
      and ``mass_before`` (when ``weight_col`` is given) the sum of
      that weight over the strictly-preceding values. The frame is
      DISTRIBUTED — join it back on (group…, value) with
      :func:`join_cuts`; do not assume it broadcasts.
    * ``totals`` — :class:`CutsTotals`: ``{group_tuple: (n_rows,
      weight_sum)}`` collected to the driver (only sensible when the
      GROUP domain is bounded; global cuts: one entry keyed ``()``),
      with ``totals.driver_rows`` carrying this call's exact driver
      collect size.

    NULL group values are kept as their own group (matching SQL
    ``PARTITION BY`` semantics); NULL values sort first ascending.
    """
    global LAST_DRIVER_ROWS
    spark = df.sparkSession
    gcols = list(group_cols)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("_w"))
    hist = df.groupBy(*gcols, value_col).agg(*aggs)
    n_parts = _conf_partitions(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    order = [F.asc(c) for c in gcols] + [
        F.desc(value_col) if descending else F.asc(value_col)
    ]
    ranged = (
        hist.repartitionByRange(n_parts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize)
    )
    part_aggs = [F.sum("cnt").alias("_c")]
    if weight_col is not None:
        part_aggs.append(F.sum("_w").alias("_ws"))
    part_rows = ranged.groupBy("_pid", *gcols).agg(*part_aggs).collect()
    LAST_DRIVER_ROWS = len(part_rows)

    per_group: dict[tuple, list] = defaultdict(list)
    for r in part_rows:
        per_group[tuple(r[c] for c in gcols)].append(r)
    off_rows: list[tuple] = []
    totals: CutsTotals = CutsTotals()
    totals.driver_rows = len(part_rows)
    for g, rs in per_group.items():
        rs.sort(key=lambda r: r["_pid"])
        acc_c: int = 0
        acc_w: int | float = 0
        for r in rs:
            off_rows.append(
                (r["_pid"], *g, acc_c)
                if weight_col is None
                else (r["_pid"], *g, acc_c, acc_w)
            )
            acc_c += r["_c"]
            if weight_col is not None:
                acc_w += r["_ws"]
        totals[g] = (acc_c, acc_w)

    fields = [ST.StructField("_pid", ST.IntegerType(), False)]
    for c in gcols:
        fields.append(ranged.schema[c])
    fields.append(ST.StructField("_off_c", ST.LongType(), False))
    if weight_col is not None:
        fields.append(ST.StructField("_off_w", ranged.schema["_w"].dataType, False))
    off_df = spark.createDataFrame(off_rows, ST.StructType(fields))

    cond = ranged["_pid"] == off_df["_pid"]
    for c in gcols:
        cond = cond & ranged[c].eqNullSafe(off_df[c])
    joined = ranged.join(F.broadcast(off_df), cond).drop(off_df["_pid"])
    for c in gcols:
        joined = joined.drop(off_df[c])
    wp = (
        Window.partitionBy("_pid", *gcols)
        .orderBy(F.desc(value_col) if descending else F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cuts = joined.withColumn(
        "cum_before", F.col("_off_c") + F.sum("cnt").over(wp) - F.col("cnt")
    )
    out_cols = [*gcols, value_col, "cnt", "cum_before"]
    if weight_col is not None:
        cuts = cuts.withColumn(
            "mass_before", F.col("_off_w") + F.sum("_w").over(wp) - F.col("_w")
        )
        out_cols.append("mass_before")
    return cuts.select(*out_cols), totals


def ntile_expr(rank_col: str, n_rows: int, tiles: int) -> F.Column:
    """The SQL ``NTILE(tiles)`` bucket for a 1-based global ``rank``
    column, as pure integer arithmetic (1-based bucket id).

    NTILE gives the first ``r = n_rows mod tiles`` buckets ``q+1`` rows
    (``q = n_rows div tiles``) and the rest ``q``; the closed form is
    ``ceil(rank/(q+1))`` inside the first ``r(q+1)`` ranks and
    ``r + ceil((rank - r(q+1))/q)`` after. Integer ``div`` only — a
    double division could misround the ceil at exact multiples once
    ranks exceed 2^53. Shared by ``length_buckets``,
    ``customer_value_tiles`` and ``customer_rfm`` (one formula, one
    drift surface — the Gopher-threshold-table discipline)."""
    q, r = divmod(n_rows, tiles)
    qd = max(q, 1)  # q=0 → the else branch is unreachable; avoid div 0
    return F.when(
        F.col(rank_col) <= r * (q + 1),
        F.expr(f"({rank_col} + {q}) div {q + 1}"),
    ).otherwise(
        F.expr(f"{r} + ({rank_col} - {r * (q + 1)} + {qd - 1}) div {qd}")
    )


def join_cuts(
    df: DataFrame,
    cuts: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Attach a :func:`value_cuts` frame back onto its source rows.

    Null-safe equi-join on (group…, value) — NULL groups survive (the
    window twins and SQL oracles keep NULL as a partition group; a
    plain inner join would silently drop those rows). Every source row
    matches exactly one cuts row, so no row multiplication. The cuts
    side's key columns are renamed first: ``cuts`` shares attribute
    lineage with ``df`` (it was derived from it), and a same-exprId
    join condition leans on Spark's dataset-id disambiguation —
    renaming mints fresh attribute ids instead."""
    renamed = cuts.withColumnRenamed(value_col, "_cut_v")
    for i, c in enumerate(group_cols):
        renamed = renamed.withColumnRenamed(c, f"_cut_g{i}")
    cond = df[value_col].eqNullSafe(renamed["_cut_v"])
    for i, c in enumerate(group_cols):
        cond = cond & df[c].eqNullSafe(renamed[f"_cut_g{i}"])
    return df.join(renamed, cond).drop(
        "_cut_v", *[f"_cut_g{i}" for i in range(len(group_cols))]
    )
