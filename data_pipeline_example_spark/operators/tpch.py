"""Join + aggregation queries over the TPC-H-ish star schema.

The reference implements *no joins* (SURVEY.md §2.5) — its serving
leaderboard is the natural first join use-case, and the driver's star
schema (TESTDATA.md) is where the engine's join surface gets exercised.
These queries are TPC-H-shaped, adapted to the available columns.

Scale notes (the point of this module):
* Bounded dimension tables (region, nation, supplier, part — ≤|part| =
  0.1% of lineitem at any TPC-H SF) are explicitly ``broadcast()`` —
  no shuffle of the fact table on dim joins; at 100 TB only
  lineitem⋈orders needs a shuffle (AQE picks sort-merge and handles
  skew). CUSTOMER-derived frames are never hinted: |customers| scales
  with the fact table (15M rows at sf100), so a forced broadcast pins
  a driver-OOM plan at exactly the scale these queries target — AQE
  broadcasts them at low SF and shuffles on c_custkey beyond (r6
  sweep; the r5 verdict flagged the pattern on returned_item_ranking).
* Filters are applied *before* joins so Catalyst pushes them into the
  parquet scans (verify with ``.explain``: PushedFilters on l_shipdate /
  c_mktsegment / r_name).
* Aggregates are keyed on low-cardinality columns → map-side partial
  aggregation shrinks shuffle traffic to ~|groups| per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.cuts import (
    join_cuts,
    ntile_expr,
    percentile_disc,
    rank_rows,
    value_cuts,
)
from data_pipeline_example_spark.functions.materialize import (
    materialize,
    materialize_counted,
)


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem only.

    One scan, one shuffle on a 6-ish-group key; avg columns rounded to
    4 dp and sums to 2 dp for cross-engine float parity.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_revenue_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    date: str = "1998-03-15",
    n: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: top unshipped orders by revenue for a segment.

    The segment-filtered customer side is left to AQE (no forced
    broadcast: |customers| scales with the fact table, so a hint would
    pin a driver-OOM plan at exactly the scale this query targets; AQE
    broadcasts when the filtered side is actually small);
    orders⋈lineitem is the only guaranteed shuffle join. Revenue
    ordering uses the rounded value + orderkey tie-break for
    determinism.
    """
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    return (
        orders.filter(F.col("o_orderdate") < F.lit(date).cast("date"))
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            lineitem.filter(F.col("l_shipdate") > F.lit(date).cast("date")),
            orders["o_orderkey"] == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(n)
    )


def supplier_nation_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5-shaped: revenue by supplier nation within a region.

    region→nation→supplier is a chain of broadcast joins (all tiny);
    lineitem never shuffles for the joins — only for the final group-by.
    """
    dims = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    return (
        lineitem.join(F.broadcast(dims), lineitem["l_suppkey"] == dims["s_suppkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def customer_nation_revenue(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
) -> DataFrame:
    """Order revenue by customer nation within a region. nation/region
    broadcast; the customer-derived side is left to AQE (module
    docstring: customer scales with the fact table)."""
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            customer["c_nationkey"] == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    return (
        orders.join(dims, orders["o_custkey"] == dims["c_custkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def order_priority_count(
    orders: DataFrame, lineitem: DataFrame, min_qty: float = 45.0
) -> DataFrame:
    """TPC-H Q4-shaped: order count by priority where some line item has
    quantity ≥ min_qty — a LEFT SEMI join (no row multiplication, the
    semi-join short-circuits per key)."""
    big = lineitem.filter(F.col("l_quantity") >= min_qty).select("l_orderkey")
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def brand_volume(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Quantity/revenue by part brand — fact⋈broadcast(dim) pattern."""
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("p_brand")
    )


def bloom_pruned_brand_volume(
    lineitem: DataFrame, part: DataFrame, min_size: int = 30, n_buckets: int = 8192
) -> DataFrame:
    """Brand volume over a *selective* dim filter, with the fact side
    pruned by a bloom-style runtime filter before the join — the
    fact-side scan-reduction pattern for joins whose dim filter kills
    most fact rows (Spark's own runtime bloom filter does this
    transparently where enabled; expressed explicitly here so the shape
    is visible and testable).

    The "bloom" is relational: the filtered dim's join keys hash into
    ``n_buckets`` buckets (xxhash64 — the prune is engine-internal, so
    portability doesn't matter); the distinct bucket set broadcasts, and
    a LEFT SEMI join on the fact key's bucket drops most non-matching
    fact rows at O(1) probe cost per row — exactly a one-hash bloom at
    bucket granularity. False positives survive the prune and are
    removed by the exact join that follows, so the RESULT is identical
    to the unpruned plan — which is what the oracle checks (plain SQL
    join, no bloom anywhere). At 100 TB the prune runs in the scan stage
    and the exact join shuffles only surviving rows.
    """
    dim = part.filter(F.col("p_size") >= min_size).select("p_partkey", "p_brand")
    bucket_of = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))  # noqa: E731
    bucket_set = dim.select(bucket_of(F.col("p_partkey")).alias("__b")).distinct()
    pruned = lineitem.select("l_partkey", "l_quantity", "l_extendedprice").join(
        F.broadcast(bucket_set),
        bucket_of(F.col("l_partkey")) == F.col("__b"),
        "left_semi",
    )
    return (
        pruned.join(F.broadcast(dim), pruned["l_partkey"] == dim["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("p_brand")
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13-shaped: distribution of orders-per-customer.

    LEFT OUTER join keeps order-less customers (c_count = 0). The outer
    join shuffles on custkey (uniform key, no skew); the second group-by
    is tiny. Output: c_count, custdist.
    """
    counts = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped: monthly share of revenue from PROMO parts.

    Conditional aggregation over fact⋈broadcast(dim); one shuffle on the
    ship-month key. Output: ship_month, promo_share (2 dp percent),
    total_revenue (2 dp).
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.round(
                100
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                2,
            ).alias("promo_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


def lapsed_customers(
    customer: DataFrame, orders: DataFrame, cutoff: str = "2001-06-01"
) -> DataFrame:
    """Customers with no orders on/after the cutoff — a LEFT ANTI join
    (the build side is pre-filtered to recent orders, so the anti-join
    probe carries only recent custkeys). Output per segment: customers,
    avg_acctbal.
    """
    recent = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit(cutoff))
    ).select("o_custkey")
    return (
        customer.join(recent, customer["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def fulfilled_customers_by_nation(
    customer: DataFrame, orders: DataFrame, nation: DataFrame
) -> DataFrame:
    """Customers with ≥1 fulfilled ('F') order, counted per nation —
    LEFT SEMI join against the filtered orders plus a broadcast dim join.
    Output: n_name, customers."""
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        customer.join(
            fulfilled, customer["c_custkey"] == fulfilled["o_custkey"], "left_semi"
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            customer["c_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("customers"))
        .orderBy("n_name")
    )


def segment_stats(customer: DataFrame) -> DataFrame:
    """Per-segment customer stats — simple single-table aggregate."""
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def large_orders(
    orders: DataFrame, lineitem: DataFrame, min_qty: float = 250.0
) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total line quantity exceeds
    ``min_qty`` — aggregate-then-HAVING, joined back to the order header.
    The heavy side (lineitem) aggregates BEFORE the join, so the join
    probe is only the few qualifying orderkeys. Output: o_orderkey,
    o_orderdate, o_totalprice, total_qty.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") >= min_qty)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .select("o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def top_supplier_per_nation(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q15-flavored: each nation's highest-revenue supplier via a
    rank window over the per-supplier aggregate. The window partitions
    by nation AFTER the heavy aggregation (supplier cardinality, not
    lineitem), so the sort is tiny. Ranking uses the rounded revenue +
    suppkey tie-break for cross-engine determinism. Output: n_name,
    s_suppkey, s_name, revenue.
    """
    rev = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    joined = (
        rev.join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")),
            rev["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("s_suppkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("n_name", "s_suppkey", "s_name", "revenue")
        .orderBy("n_name")
    )


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17-shaped: revenue from line items whose quantity is below
    half their part's average quantity — the correlated scalar subquery
    decorrelated into a per-part aggregate joined back to the fact (the
    shape Catalyst itself rewrites correlated subqueries into; stating
    it directly keeps the plan obvious). Per-brand output keeps the
    result set readable. Output: p_brand, small_qty_revenue, line_count.
    """
    per_part = lineitem.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        lineitem.join(per_part, lineitem["l_partkey"] == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("p_brand")
    )


def forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
    disc_lo: float = 0.04,
    disc_hi: float = 0.06,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-shaped: revenue increase from dropping small discounts.

    Single scan, no join, no group key — the canonical predicate-pushdown
    showcase: all four range predicates reach the parquet scan as
    PushedFilters, and the global sum is a partial-agg + 1-row exchange.
    Output: promo_revenue, line_count.
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("date"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("date"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "promo_revenue"
            ),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_from: str = "1996-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-shaped: shipping volume between two nations by year.

    The same ``nation`` dimension is joined twice under different roles
    (supplier nation vs customer nation); nation and the pruned
    supplier side broadcast, while the nation-filtered CUSTOMER side is
    left to AQE (it scales with the fact table — a forced broadcast is
    the driver-OOM anti-pattern at 100×); the only guaranteed shuffle
    is lineitem⋈orders plus the final 4-group aggregate. The
    OR-of-nation-pairs predicate is applied post-join so Catalyst can
    still push the date range into the lineitem scan.
    Output: supp_nation, cust_nation, l_year, revenue.
    """
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(nation_a, nation_b))
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(nation_a, nation_b))
    supp = supplier.join(
        F.broadcast(n1), supplier["s_nationkey"] == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(n2), customer["c_nationkey"] == F.col("cn_key")
    ).select("c_custkey", "cust_nation")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("date"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("date"))
        )
        .join(F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"])
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "EUROPE",
    part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8-shaped: a nation's market share inside a region by year.

    share = conditional-sum / total-sum inside one aggregate — no second
    pass over the data. Five dimension joins, all broadcast; the fact
    table shuffles once (lineitem⋈orders) then aggregates on year.
    Output: o_year, mkt_share.
    """
    target_parts = part.filter(F.col("p_type") == part_type).select("p_partkey")
    cust_region = (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        supplier["s_nationkey"] == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(target_parts), lineitem["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), lineitem["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        # customer side to AQE — scales with the fact table (see module
        # docstring)
        .join(cust_region, orders["o_custkey"] == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == target_nation, volume).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_fragment: str = "red",
) -> DataFrame:
    """TPC-H Q9-shaped: profit on a product line by nation and year.

    (The driver schema has no partsupp, so profit omits the supplycost
    term — documented deviation.) The LIKE filter prunes part before its
    broadcast; lineitem shuffles only for lineitem⋈orders and the final
    aggregate. Output: n_name, o_year, profit.
    """
    target_parts = part.filter(F.col("p_name").contains(name_fragment)).select(
        "p_partkey"
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    return (
        lineitem.join(
            F.broadcast(target_parts), lineitem["l_partkey"] == F.col("p_partkey")
        )
        .join(F.broadcast(supp_nation), lineitem["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
        .orderBy("n_name", F.desc("o_year"))
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the maximum quarterly revenue.

    The CTE-with-global-max shape: per-supplier revenue is computed once,
    its 1-row max is broadcast back, and the equality join keeps ties.
    Comparing on the *rounded* revenue keeps the winner stable across
    engines (float sum order). No window-over-unpartitioned-data — a
    global max scalar stays a 1-row exchange at any scale.
    Output: s_suppkey, s_name, total_revenue.
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("date"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("date"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == F.col("mx"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            rev["l_suppkey"] == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def discount_eligible_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-shaped: revenue from OR-of-ANDs brand/size/quantity terms.

    The disjunction of conjunctive range predicates is left as one
    boolean expression: Catalyst distributes what it can into the scans
    (p_brand IN (...) and the overall l_quantity envelope are pushable)
    and evaluates the rest post-join in codegen.
    Output: disc_revenue, line_count.
    """
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        lineitem["l_partkey"] == part["p_partkey"],
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    eligible = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 35) & q.between(20, 30))
    )
    return j.filter(eligible).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("disc_revenue"),
        F.count(F.lit(1)).alias("line_count"),
    )


def shipment_delay_by_priority(
    lineitem: DataFrame, orders: DataFrame, late_days: int = 60
) -> DataFrame:
    """TPC-H Q12-shaped (adapted: the driver schema has no shipmode or
    commit/receipt dates, so lateness = ship date > order date +
    ``late_days``): conditional line counts per order priority.

    One fact-fact shuffle join, then a 5-group conditional aggregate —
    the sum(CASE WHEN) split is computed in a single pass.
    Output: o_orderpriority, late_count, ontime_count.
    """
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(delay > late_days, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(delay <= late_days, 1).otherwise(0)).alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


def sole_return_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_4",
    n: int = 25,
) -> DataFrame:
    """TPC-H Q21-shaped (adapted: no receipt/commit dates, so "failed"
    = the line was returned): suppliers from one nation who were the
    *only* supplier with a returned line on a finalized multi-supplier
    order.

    Decorrelated via per-order pre-aggregation instead of the textbook
    EXISTS/NOT EXISTS self-joins: one ``groupBy(l_orderkey)`` frame
    carries ``countDistinct(l_suppkey)`` and ``countDistinct(returned
    l_suppkey)``; a returned line's supplier is the sole returner on a
    multi-supplier order ⟺ ``n_ret_supp = 1 AND n_supp > 1`` (the
    line's own supplier is counted by both, so the inequality residuals
    vanish). This replaces three full lineitem shuffles (l1 + semi l2 +
    anti l3, each with a suppkey-inequality residual) with ONE lineitem
    shuffle for the aggregate plus a shuffle of the ~1%-selectivity l1
    side — the shape that survives a 100× fact scale-up. All joins
    become pure equi-joins on l_orderkey, so AQE can reuse one hash
    partitioning across the agg and both joins.
    Output: s_name, numwait.
    """
    nat_suppliers = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
        ),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    # size(collect_set) instead of two countDistincts: same per-order
    # distinct counts, but partial set-merge replaces the Expand (2x
    # rows) + double exchange that multi-distinct aggregation plans;
    # set size is bounded by lines-per-order (~7), so carried state is
    # a few ints per order. One lineitem exchange total.
    ord_stats = (
        lineitem.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.size(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                )
            ).alias("n_ret_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .select("ok")
    )
    l1 = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(nat_suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "s_name")
    )
    return (
        l1.join(ord_stats, F.col("l_orderkey") == F.col("ok"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(n)
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, priority: str = "1-URGENT"
) -> DataFrame:
    """TPC-H Q22-shaped (adapted: every driver customer has orders, so
    "idle" = no *urgent* orders): customers with above-average balances
    and no urgent orders, rolled up by nation.

    The scalar subquery (global positive-balance average) is a 1-row
    broadcast cross join — evaluated once, never per row; the NOT EXISTS
    is a left-anti join on custkey. The average is rounded to 2 dp
    before the comparison so the cut line is engine-independent.
    Output: c_nationkey, numcust, totacctbal.
    """
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(F.col("o_orderpriority") == priority).select("o_custkey"),
            customer["c_custkey"] == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def priority_revenue_pivot(orders: DataFrame) -> DataFrame:
    """PIVOT — order revenue by year (rows) × order priority (columns).

    The pivot values are passed explicitly so Spark skips the extra
    distinct-values job and the output schema is static (required for
    the oracle and for any downstream consumer at scale).
    Output: o_year, one column per priority.
    """
    return (
        orders.groupBy(F.year("o_orderdate").alias("o_year"))
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
        .orderBy("o_year")
    )


def customer_spend_distribution(orders: DataFrame, n: int = 50) -> DataFrame:
    """Distribution functions — each top customer's percent_rank and
    cume_dist over total spend, computed over the per-customer
    aggregate (never raw orders). Ranks are computed on the rounded
    spend so ties agree across engines. Output: c_custkey, total_spend,
    spend_pct_rank, spend_cume_dist.

    NO global ordered window. percent_rank and cume_dist depend only on
    a row's VALUE — pct_rank = cum_before/(N−1), cume_dist =
    cum_incl/N — so both come from the distributed spend-value prefix
    sums of ``functions.cuts.value_cuts`` (range-partitioned histogram
    + per-partition offsets, N as a column; no driver state, NOT
    Θ(distinct 2-dp spend values) ≈ |customers|) joined onto the
    aggregate, and the top-n is a TakeOrdered. A
    ``Window.orderBy(total_spend)`` here would move every per-customer
    row through ONE task (|customers| grows with the fact table —
    single-task sort of ~10⁹ rows at 100 TB); the cuts path has no
    global ordered exchange. Divisions + 6-dp rounds are Spark double
    expressions, bit-identical to ``percent_rank``/``cume_dist`` (the
    SQL oracle is the window form). Eager construction: ``value_cuts``
    materializes its ranged histogram (see that module's contract
    note).
    """
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    return (
        join_cuts(spend, value_cuts(spend, "total_spend"), "total_spend")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "total_spend",
            # percent_rank of a 1-row frame is 0
            F.round(
                F.col("cum_before") / F.greatest(F.col("n_rows") - 1, F.lit(1)), 6
            ).alias("spend_pct_rank"),
            F.round((F.col("cum_before") + F.col("cnt")) / F.col("n_rows"), 6).alias(
                "spend_cume_dist"
            ),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(n)
    )


def returns_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping_id — all four
    grouping-set levels (detail, two marginals, grand total) in ONE
    aggregate pass; Catalyst's Expand feeds every row to each set, so
    the cost is one scan + one shuffle regardless of how many levels a
    consumer wants. grouping_id disambiguates real NULL keys from
    subtotal rows. Output: l_returnflag, l_linestatus, grp, sum_qty,
    line_count.
    """
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .select("l_returnflag", "l_linestatus", "grp", "sum_qty", "line_count")
        .orderBy("grp", "l_returnflag", "l_linestatus")
    )


def customer_value_tiles(orders: DataFrame, tiles: int = 4) -> DataFrame:
    """NTILE quartiles over per-customer spend — equal-frequency binning
    for cohort analysis. Tile assignment orders on (rounded spend,
    custkey) so bucket boundaries are engine-independent.
    Output: tile, n_customers, min_spend, max_spend.

    The shared ``functions.cuts`` discipline instead of an
    unpartitioned NTILE window (which would sort all |customers|
    per-customer rows in ONE task — the textbook 100× straggler): the
    global rank under ORDER BY (total_spend, o_custkey) is
    ``rank_rows`` (distributed per-value prefix sum + a row_number over
    a window PARTITIONED BY total_spend — a hash exchange, never a
    global order), and ``ntile_expr`` applies the NTILE formula per row
    in integer arithmetic, bit-identical to ``ntile`` (the SQL oracle's
    form). Eager construction: ``value_cuts`` materializes its ranged
    histogram (see that module's contract note).
    """
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    ranked = rank_rows(spend, value_cuts(spend, "total_spend"), "total_spend", "o_custkey")
    return (
        ranked.withColumn("tile", ntile_expr(F.col("rank"), F.col("n_rows"), tiles).cast("int"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("total_spend").alias("min_spend"),
            F.max("total_spend").alias("max_spend"),
        )
        .orderBy("tile")
    )


def first_last_order_value(orders: DataFrame) -> DataFrame:
    """Each customer's first and last order price — first_value /
    last_value over an unbounded frame with a unique (date, orderkey)
    ordering, so ties cannot produce engine-dependent picks. One window
    pass, then one distinct per customer.
    Output: c_custkey, first_price, last_price, n_orders.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            F.first_value("o_totalprice").over(w).alias("first_price"),
            F.last_value("o_totalprice").over(w).alias("last_price"),
            F.count(F.lit(1)).over(w).alias("n_orders"),
        )
        .dropDuplicates(["c_custkey"])
    )


def nation_actor_presence(
    customer: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation customer vs supplier presence via FULL OUTER join —
    the one join type the rest of the surface doesn't exercise: neither
    side may be dropped (a nation with only suppliers still reports,
    and vice versa), which inner/semi/anti shapes can't express.

    Both inputs are pre-aggregated to |nations| rows BEFORE the outer
    join, so the join is tiny regardless of fact cardinality; nation
    names come from the broadcast dim afterwards. Output: n_name,
    n_customers, n_suppliers, balance.
    """
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    merged = c.join(s, "nk", "full_outer").select(
        "nk",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )
    return (
        merged.join(F.broadcast(nation), merged["nk"] == nation["n_nationkey"])
        .select(
            "n_name",
            "n_customers",
            "n_suppliers",
            (F.col("n_customers") - F.col("n_suppliers")).alias("balance"),
        )
        .orderBy("n_name")
    )


def branded_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: OR-of-ANDs over
    (p_brand, p_size, l_quantity) bands, adapted to the driver schema
    (no p_container / l_shipmode columns).

    The scale move is the classic Q19 rewrite: Catalyst cannot push an
    OR-of-ANDs spanning both tables into either scan, so the UNION
    BOUNDING BOX of the disjuncts is applied per side BEFORE the join —
    part prunes to the three brands and the size envelope (broadcast
    side shrinks), lineitem prunes to the quantity envelope (fact scan
    carries PushedFilters) — and the exact disjunction runs after the
    join on the survivors only. Output: branch, n_items, revenue —
    per-disjunct rows, deterministic.
    """
    branches = [
        (1, "Brand#12", (1, 15), (1.0, 15.0)),
        (2, "Brand#23", (1, 25), (10.0, 30.0)),
        (3, "Brand#34", (1, 35), (20.0, 45.0)),
    ]
    brands = [b for _, b, _, _ in branches]
    size_lo = min(lo for _, _, (lo, _), _ in branches)
    size_hi = max(hi for _, _, (_, hi), _ in branches)
    qty_lo = min(lo for _, _, _, (lo, _) in branches)
    qty_hi = max(hi for _, _, _, (_, hi) in branches)
    p = part.filter(
        F.col("p_brand").isin(brands)
        & F.col("p_size").between(size_lo, size_hi)
    ).select("p_partkey", "p_brand", "p_size")
    li = lineitem.filter(F.col("l_quantity").between(qty_lo, qty_hi)).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    branch = None
    for bid, brand, (slo, shi), (qlo, qhi) in branches:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        branch = F.when(cond, bid) if branch is None else branch.when(cond, bid)
    return (
        joined.withColumn("branch", branch)
        .filter(F.col("branch").isNotNull())
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def returned_item_ranking(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, top: int = 20
) -> DataFrame:
    """TPC-H Q10-shaped returned-item customer ranking: revenue the
    business lost to returns (``l_returnflag = 'R'``), rolled up per
    customer, top-``top``.

    Scale shape: the returnflag filter is pushed into the lineitem
    scan; lineitem⋈orders is the one fact-fact shuffle (equi-join on
    l_orderkey); the per-customer aggregate is map-side combined; the
    customer-dimension join is left to AQE (no explicit broadcast
    hint: |customers| grows with the fact table — 15M rows at sf100 —
    so a forced broadcast would OOM the driver at exactly the scale
    this operator targets; AQE picks broadcast when the dim is small
    and a shuffle join keyed on c_custkey when it isn't); ranking is a
    TakeOrdered with revenue-then-key tie-break. Output: c_custkey,
    c_name, c_mktsegment, revenue (2 dp).
    """
    rev = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        rev.join(
            customer.select("c_custkey", "c_name", "c_mktsegment"),
            rev["o_custkey"] == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "c_mktsegment", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(top)
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    r_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue per nation where
    the CUSTOMER and the SUPPLIER sit in the same nation of one region,
    over one order-date year — the classic 6-table star join whose
    distinguishing edge is the second nation equality
    (``c_nationkey = s_nationkey``), which Catalyst applies as an extra
    equi-key on the final join rather than a filter afterward.

    Scale shape: region→nation prune broadcasts down the dim chain
    (nation keeps only the region's rows before touching any fact);
    the o_orderdate band is pushed into the orders scan; the only
    fact-fact shuffle is lineitem⋈orders; supplier broadcasts, the
    customer side is left to AQE (it scales with the fact table).
    Output: n_name, revenue (2 dp), ordered by revenue desc
    (deterministic: nation names unique).
    """
    nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == r_name)),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(nations), supplier["s_nationkey"] == nations["n_nationkey"]
    ).select("s_suppkey", "s_nationkey", "n_name")
    ord_band = orders.filter(
        (F.col("o_orderdate") >= date_lo) & (F.col("o_orderdate") < date_hi)
    ).select("o_orderkey", "o_custkey")
    cust = customer.select("c_custkey", "c_nationkey")
    joined = (
        lineitem.select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
        .join(ord_band, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        # customer side left to AQE: the full 2-column customer
        # projection scales with the fact table (15M rows at sf100) —
        # a forced broadcast is the driver-OOM anti-pattern; AQE
        # broadcasts at low SF and shuffles on c_custkey beyond
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    r_name: str = "EUROPE",
    p_type: str = "SMALL",
    size_lo: int = 1,
    size_hi: int = 25,
    n: int = 100,
) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier (adapted: the driver corpus
    ships no partsupp table, so the observed lineitem relation plays the
    supply catalog — the supply cost of a (part, supplier) pair is that
    pair's minimum observed l_extendedprice). For every part of one
    type in a size band, the region-local supplier offering the minimum
    cost: the classic correlated min-subquery, decorrelated into a
    groupBy-min plus per-part argmin.

    Scale shape: region→nation→supplier prune broadcasts down the dim
    chain; the (part, supplier) cost table is ONE map-side-combined
    aggregate over the part-pruned lineitem scan; the per-part argmin is
    ``min(struct(cost, suppkey))`` — no window, no self-join, ties break
    to the smallest suppkey deterministically; supplier detail broadcasts
    back onto the |parts|-sized result and the Q2 ordering is a
    TakeOrdered. Output: s_acctbal, s_name, n_name, p_partkey, p_brand,
    min_cost.
    """
    nat = nation.join(
        F.broadcast(region.filter(F.col("r_name") == r_name)),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(nat), supplier["s_nationkey"] == nat["n_nationkey"]
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    pts = part.filter(
        (F.col("p_type") == p_type) & F.col("p_size").between(size_lo, size_hi)
    ).select("p_partkey", "p_brand")
    costs = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(pts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = costs.groupBy("p_partkey", "p_brand").agg(
        F.min(F.struct(F.col("cost"), F.col("l_suppkey").alias("sk"))).alias("b")
    )
    return (
        best.select(
            "p_partkey",
            "p_brand",
            F.col("b.cost").alias("min_cost"),
            F.col("b.sk").alias("s_suppkey"),
        )
        .join(F.broadcast(supp), "s_suppkey")
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "min_cost")
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(n)
    )


def important_part_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    n_name: str = "NATION_7",
    bp: int = 15,
) -> DataFrame:
    """TPC-H Q11-shaped important stock: per-part inventory value held
    by one nation's suppliers, keeping parts whose value exceeds ``bp``
    basis points of the nation's total — the HAVING-against-a-global-
    scalar shape (adapted to the lineitem supply catalog: value =
    Σ quantity × extendedprice over the nation's observed supply
    lines).

    Exactness discipline: per-line values are 2-dp-rounded then scaled
    to integer CENTS and summed as longs (the dsir/bigram integer-unit
    rule), and the threshold test is pure integer cross-multiplication
    (``10000 × part_value > bp × total``) — a float sum in a HAVING is
    a cross-engine knife edge; an integer one cannot flip. Scale shape:
    nation→supplier prune broadcasts into the lineitem scan; ONE
    map-side-combined aggregate per part; the grand total is a
    broadcast one-row cross join, not a second corpus pass over raw
    lines. Output: l_partkey, value_cents (BIGINT), ordered by value
    desc.
    """
    supp = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == n_name)),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey")
    cents = F.round(
        F.round(F.col("l_quantity") * F.col("l_extendedprice"), 2) * 100, 0
    ).cast("long")
    # per-part aggregate materialized once (r15): the grand total and
    # the threshold filter both branch from it, and lazy lineage re-ran
    # the pruned lineitem scan + aggregate twice. NOT an unpartitioned
    # window: |parts| is corpus-scale, and a single-task window over it
    # would be the straggler the docstring's integer-threshold design
    # avoids — the checkpoint keeps both consumers distributed.
    per_part = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
        .transform(materialize)
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.lit(10000) * F.col("value_cents") > F.lit(bp) * F.col("total_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), F.asc("l_partkey"))
    )


def supplier_count_by_part(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    exclude_type: str = "PROMO",
    sizes: tuple = (1, 5, 9, 13, 17, 21, 25, 29),
) -> DataFrame:
    """TPC-H Q16-shaped supplier-count-by-part-attributes: how many
    distinct suppliers can deliver each (brand, type, size) bucket,
    excluding one part type and excluding suppliers in bad standing —
    the NOT-IN-subquery shape, expressed as a broadcast LEFT ANTI join
    (adapted: the corpus has no s_comment, so negative account balance
    plays the 'Customer Complaints' exclusion set).

    Scale shape: the (part, supplier) pairs come from ONE distinct over
    the two-column lineitem projection (map-side combined); the part
    attribute filter and the exclusion set both broadcast; the count
    distinct is keyed on the bounded attribute triple. Output: p_brand,
    p_type, p_size, supplier_cnt, Q16 ordering.
    """
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    pts = part.filter(
        (F.col("p_type") != exclude_type)
        & F.col("p_size").isin(*[int(s) for s in sizes])
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(pts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


def excess_shipped_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "red",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20-shaped excess-movement suppliers: suppliers for whom
    MORE THAN HALF of their all-time shipped quantity of one part
    family (name prefix) moved inside a single year — the
    correlated-half-of-sum shape (adapted: no partsupp availqty, so the
    all-time shipped quantity plays the stock level).

    Exactness discipline: l_quantity is cast to long PER ROW
    (``round(q, 0).cast(long)`` — the ``important_part_stock``
    integer-unit pattern; HALF_UP in both engines) and summed as longs,
    so the result cannot depend on how each engine casts a float SUM
    (Spark truncates toward zero, DuckDB rounds — a fractional quantity
    would flip them apart); the half test is the integer
    cross-multiplication ``2 × qty_band > qty_total`` — no 0.5× float
    compare. Scale shape:
    the name-prefix part prune broadcasts into ONE lineitem scan that
    computes both sums as conditional aggregates per (supplier, part)
    (map-side combined, no second scan for the window-band sum); the
    supplier verdict is a semi-style distinct + broadcast dim join.
    Output: s_name, n_name, ordered by s_name.
    """
    pts = part.filter(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    shipped = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(F.broadcast(pts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= date_lo)
                    & (F.col("l_shipdate") < date_hi),
                    qty,
                ).otherwise(F.lit(0))
            ).alias("qty_band"),
            F.sum(qty).alias("qty_total"),
        )
    )
    hits = (
        shipped.filter(F.lit(2) * F.col("qty_band") > F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        hits.join(supplier, hits["l_suppkey"] == supplier["s_suppkey"])
        .join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def segment_value_percentiles(
    orders: DataFrame,
    customer: DataFrame,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-segment order-value percentiles (p50/p90/p99) without
    a global sort and without approxQuantile's error bound — the
    percentile value at rank ceil(p·N) (SQL ``percentile_disc``
    semantics, DuckDB-verified) is the cuts row whose rank interval
    (cum_before, cum_before+cnt] contains the target rank
    (``functions.cuts.percentile_disc``, one aggregate over the
    per-(segment, value) cuts rows). A ``percentile_disc``
    window/sort would move every order row through one task per
    segment. Values are raw doubles from the data (no arithmetic), so
    cross-engine equality is exact. Output: c_mktsegment, n_orders,
    p50, p90, p99.
    """
    j = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select("c_mktsegment", "o_totalprice")
    cuts = value_cuts(j, "o_totalprice", group_cols=("c_mktsegment",))
    return (
        cuts.groupBy("c_mktsegment", F.col("n_rows").alias("n_orders"))
        .agg(*[percentile_disc(p, "o_totalprice").alias(f"p{round(p * 100)}") for p in ps])
        .orderBy("c_mktsegment")
    )


def _basket_frames(lineitem: DataFrame, materialize_baskets: bool = True):
    """Shared basket/pair construction for :func:`basket_affinity` and
    the graph family's :func:`_copurchase_edges`.

    One ``groupBy(l_orderkey).collect_set`` shuffle builds the basket
    arrays (collect_set dedups in the partial aggregate, map-side —
    the old ``distinct()`` pre-pass was a second full-lineitem
    shuffle), and pairs are generated IN-ARRAY with a sorted
    ``transform × slice`` comprehension instead of a basket×basket
    self-join — the r8 scaling run measured the join formulation at
    ×16.8 on ×10 data (sf1→sf10): three ~|lineitem|-row exchanges
    (distinct + both join sides) competing with the pair aggregate for
    execution memory. Now exactly ONE lineitem-sized exchange happens
    before the unavoidable pair shuffle. Per-order fan-out is still
    C(basket, 2) with TPC-H-bounded baskets (≤7 distinct parts), and
    the sorted array gives part_a < part_b by construction.

    Returns ``(baskets, pairs)``: baskets — one row per order with the
    sorted distinct part array (feeds the per-item and total counts
    without re-scanning lineitem); pairs — exploded (part_a, part_b)
    pair instances, one per (order, unordered pair).

    ``materialize_baskets``: pass True only when the basket frame has
    MULTIPLE consumers (basket_affinity reads it three times). A
    single-consumer caller (basket_communities: pairs only) must pass
    False — an eager checkpoint of |orders| array rows that nothing
    reads twice is pure block-storage pressure, and at sf10 it was a
    measured contributor to the 8 GB harness heap exhaustion.
    """
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    if materialize_baskets:
        baskets = baskets.transform(materialize)
    pair_struct = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = baskets.select(F.explode(pair_struct).alias("p")).select(
        "p.part_a", "p.part_b"
    )
    return baskets, pairs


def _copurchase_edges(lineitem: DataFrame, min_support: int) -> DataFrame:
    """The co-purchase graph the graph family builds on: one row per
    unordered part pair (part_a < part_b) bought together in at least
    ``min_support`` orders, with that order count ``n``. Lazy — each
    caller places its own ``materialize`` seam; the basket frame is a
    single-consumer input here, so it never materializes."""
    _, pair_stream = _basket_frames(lineitem, materialize_baskets=False)
    return (
        pair_stream.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= int(min_support))
    )


def basket_affinity(
    lineitem: DataFrame, min_support: int = 2, top_n: int = 50
) -> DataFrame:
    """Market-basket pair association over order line items — the
    classic association-rules table (pair support + lift vs
    independence), the lineitem-scale twin of
    ``users.event_cooccurrence``.

    Scale shape: basket arrays are built in ONE map-combined
    ``collect_set`` shuffle and pairs generated in-array (see
    :func:`_basket_frames` — the self-join formulation measured ×16.8
    on ×10 data before the rewrite), so pair instances are LINEAR in
    lineitem with C(basket, 2)-bounded per-order fan-out. The pair
    aggregate's output domain is unbounded (distinct part pairs), so
    the op follows the capped-output discipline (``simhash_pairs_
    capped`` precedent): a ``min_support`` filter shrinks the frame
    before any enrichment, and the top-n by support is a TakeOrdered
    (never a full sort) taken BEFORE the per-item count joins — the
    ≤top_n winners broadcast against the |parts| count frame, so the
    expensive side never shuffles for losers.
    Exactness: all counts exact longs; lift is one 4-dp division over
    pre-multiplied long operands (the event_cooccurrence precedent).
    Ties at the cap break on (part_a, part_b) — deterministic in both
    engines. Output: part_a, part_b, pair_orders, a_orders, b_orders,
    lift; top_n by (pair_orders desc, part_a, part_b).
    """
    # the materialized basket arrays feed the pair stream, both
    # per-item count probes and the order total — one lineitem scan,
    # one exchange (eager construction: module contract note in
    # operators/text.py; the materialize seam upgrades to a reliable
    # checkpoint when the session configures one)
    baskets, pair_stream = _basket_frames(lineitem)
    pairs = (
        pair_stream.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
        .filter(F.col("pair_orders") >= int(min_support))
        .orderBy(F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(int(top_n))
    )
    items = baskets.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    wa = items.join(
        F.broadcast(pairs), items["l_partkey"] == pairs["part_a"]
    ).select(
        "part_a",
        "part_b",
        "pair_orders",
        F.col("n_item").alias("a_orders"),
    )
    wb = items.join(
        F.broadcast(wa), items["l_partkey"] == wa["part_b"]
    ).select(
        "part_a",
        "part_b",
        "pair_orders",
        "a_orders",
        F.col("n_item").alias("b_orders"),
    )
    return (
        wb.crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "a_orders",
            "b_orders",
            F.round(
                (F.col("pair_orders") * F.col("n_orders"))
                / (F.col("a_orders") * F.col("b_orders")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b"))
    )


def customer_rfm(orders: DataFrame, tiles: int = 4) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — every
    customer scored 1..tiles on each dimension by equal-frequency
    NTILE, rolled up to the tiles³ segment grid.

    The tiles use the shared ``functions.cuts`` discipline: the three
    dimensions are stacked into (dim, value) rows and ranked ONCE —
    ``value_cuts`` grouped by dim, ``rank_rows`` under ORDER BY
    (metric, o_custkey) within each dim, the shared ``ntile_expr``
    integer formula — then pivoted back to one row per customer. NO
    unpartitioned NTILE window (the textbook 100× single-task
    straggler, three times over). The per-customer frame is
    materialized once (narrow, |customers| rows) so the ranged
    histogram and the ranked rows read one materialization (module
    eager-construction contract). Exactness: recency is whole days vs
    the corpus max order date, frequency an exact count, monetary
    exact integer CENTS (per-row 2-dp→×100 cast, the
    daily_revenue_ma7 discipline); segment averages use the HALF_UP
    integral-division identity ((2a+b) div 2b) — no float arithmetic
    anywhere. Output: r_tile, f_tile, m_tile, n_customers,
    avg_recency_days, total_orders, total_spend_cents.
    """
    cents = F.round(F.round(F.col("o_totalprice"), 2) * 100, 0).cast("long")
    maxd = orders.agg(F.max("o_orderdate").alias("max_d"))
    melted = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("f_v"),
            F.sum(cents).cast("long").alias("m_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .selectExpr(
            "o_custkey",
            "stack(3, 'r', cast(datediff(max_d, last_d) as long), 'f', f_v,"
            " 'm', m_cents) as (_dim, _v)",
        )
        .transform(materialize)
    )
    cuts = value_cuts(melted, "_v", group_cols=("_dim",))
    tile = ntile_expr(F.col("rank"), F.col("n_rows"), tiles).cast("int")
    per_cust = rank_rows(melted, cuts, "_v", "o_custkey", ("_dim",)).groupBy(
        "o_custkey"
    ).agg(
        *[
            F.max(F.when(F.col("_dim") == d, c)).alias(f"{d}_{name}")
            for d in "rfm"
            for c, name in ((tile, "tile"), (F.col("_v"), "v"))
        ]
    )
    return (
        per_cust.groupBy("r_tile", "f_tile", "m_tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr(
                "cast((2 * sum(r_v) + count(1)) div (2 * count(1)) as long)"
            ).alias("avg_recency_days"),
            F.sum("f_v").cast("long").alias("total_orders"),
            F.sum("m_v").cast("long").alias("total_spend_cents"),
        )
        .orderBy("r_tile", "f_tile", "m_tile")
    )


def order_gap_percentiles(
    orders: DataFrame, ps: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Inter-purchase timing: EXACT percentiles (p50/p90/p99) and the
    HALF_UP mean of the day gaps between each customer's consecutive
    orders — the re-order cadence a replenishment model trains on.

    The lag window is PARTITIONED by customer (hash exchange, per-key
    frames are order counts per customer — bounded, never a global
    sort), ordered (o_orderdate, o_orderkey) so same-day ties are
    engine-independent. Gap percentiles then use the
    ``functions.cuts.percentile_disc`` aggregate over the small
    integer day-gap domain: rank ceil(p·N) located in the cuts row
    whose interval contains it (SQL ``percentile_disc`` semantics).
    The gap weight rides the same cuts pass, so n_gaps and the gap sum
    are the ``n_rows``/``weight_sum`` columns and the gaps subtree
    computes once, inside the ranged materialization. The aggregate
    groups by those totals, so an empty input yields no row.
    Exactness: gaps are whole-day longs; the mean is the integral
    HALF_UP identity; percentile values are raw longs.
    Output: one row — n_gaps, avg_gap_days, p50, p90, p99.
    """
    from pyspark.sql.window import Window

    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev_d", F.lag("o_orderdate").over(wc))
        .filter(F.col("prev_d").isNotNull())
        .select(
            F.datediff(F.col("o_orderdate"), F.col("prev_d"))
            .cast("long")
            .alias("gap")
        )
    )
    pcols = [f"p{round(p * 100)}" for p in ps]
    return (
        value_cuts(gaps, "gap", weight_col="gap")
        .groupBy("n_rows", "weight_sum")
        .agg(*[percentile_disc(p, "gap").alias(c) for p, c in zip(ps, pcols)])
        .select(
            F.col("n_rows").alias("n_gaps"),
            # gaps are nonnegative, so the truncating ``div`` is HALF_UP
            F.expr("(2 * weight_sum + n_rows) div (2 * n_rows)").alias("avg_gap_days"),
            *pcols,
        )
    )


def revenue_pareto(orders: DataFrame, tiles: int = 10) -> DataFrame:
    """Pareto / cumulative-share table: customers ranked by spend
    (descending) into deciles, with each decile's revenue and the
    running share of total revenue — "the top 10% of customers carry
    X% of revenue".

    The descending rank uses the shared ``functions.cuts`` discipline:
    ``rank_rows`` over descending cuts, ORDER BY (spend DESC, custkey)
    — no global sort, no driver state — then the shared ``ntile_expr``
    integer formula. The cumulative share is a window over the
    AGGREGATED decile frame (``tiles`` rows — planning-sized, the
    daily_revenue_ma7 spine precedent), never over customers.
    Exactness: spend is exact integer CENTS; the share is one 4-dp
    division of exact longs. Output: decile, n_customers,
    decile_spend_cents, cum_share.
    """
    from pyspark.sql.window import Window

    cents = F.round(F.round(F.col("o_totalprice"), 2) * 100, 0).cast("long")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("long").alias("m_cents")
    )
    cuts = value_cuts(spend, "m_cents", descending=True)
    dec = (
        rank_rows(spend, cuts, "m_cents", "o_custkey")
        .withColumn("decile", ntile_expr(F.col("rank"), F.col("n_rows"), tiles).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_cents").cast("long").alias("decile_spend_cents"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # total as an unpartitioned window over the tiles-row decile
    # aggregate: a lazy crossJoin total would re-run the ranked-cuts
    # subtree a second time
    wtot = Window.partitionBy()
    return (
        dec.withColumn(
            "t_cents", F.sum("decile_spend_cents").over(wtot).cast("long")
        )
        .withColumn(
            "cum_cents", F.sum("decile_spend_cents").over(wcum).cast("long")
        )
        .select(
            "decile",
            "n_customers",
            "decile_spend_cents",
            F.round(F.col("cum_cents") / F.col("t_cents"), 4).alias(
                "cum_share"
            ),
        )
        .orderBy("decile")
    )


def orders_yoy_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year revenue growth per order priority — the trend
    table every finance dashboard opens with.

    One map-side-combined aggregate to the bounded
    (#priorities × #years) grid; the lag window runs on that
    planning-sized frame, PARTITIONED by priority. Exactness: revenue
    is exact integer CENTS; growth is (Δ · 1.0) / prev — one exact
    long subtraction, one exact double conversion, one rounded
    division, mirrored verbatim in the oracle (first year NULL in
    both engines). Output: o_orderpriority, year, revenue_cents,
    yoy_growth.
    """
    from pyspark.sql.window import Window

    cents = F.round(F.round(F.col("o_totalprice"), 2) * 100, 0).cast("long")
    yearly = orders.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("year")
    ).agg(F.sum(cents).cast("long").alias("revenue_cents"))
    w = Window.partitionBy("o_orderpriority").orderBy("year")
    prev = F.lag("revenue_cents").over(w)
    return yearly.select(
        "o_orderpriority",
        "year",
        "revenue_cents",
        F.round(
            (F.col("revenue_cents") - prev) * F.lit(1.0) / prev, 4
        ).alias("yoy_growth"),
    ).orderBy("o_orderpriority", "year")


def customer_migration(orders: DataFrame, tiles: int = 4) -> DataFrame:
    """Customer value-migration matrix: spend-quartile transitions
    between the first and second half of the order history — the
    upgrade/downgrade/churn/acquisition grid a lifecycle team reads.

    The date midpoint is lo + (hi−lo) div 2 whole days (integer
    arithmetic, mirrored in the oracle). Each half's quartiles rank
    only the customers ACTIVE in that half: per-(half, customer) spend
    rows go through ONE ``functions.cuts`` pass grouped by half
    (``rank_rows`` + ``ntile_expr`` over that half's own row count —
    never an unpartitioned NTILE), then pivot to one row per customer;
    a customer absent from a half lands in tile 0 of that axis, so
    row/column 0 are the acquisition and churn margins. The
    per-(half, customer) frame is materialized once (narrow,
    |active customers| rows): the ranged histogram and the ranked rows
    both read it. Output: the bounded (tiles+1)² grid minus the
    impossible (0,0) cell — tile_h1, tile_h2, n_customers. All counts
    exact longs.
    """
    cents = F.round(F.round(F.col("o_totalprice"), 2) * 100, 0).cast("long")
    d = F.to_date("o_orderdate")
    bounds = orders.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    spend = (
        orders.select("o_custkey", d.alias("d"), cents.alias("cents"))
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "_half",
            F.when(
                F.col("d") < F.expr("date_add(lo, cast(datediff(hi, lo) div 2 as int))"),
                F.lit(1),
            ).otherwise(F.lit(2)),
        )
        .groupBy("_half", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("m_cents"))
        .transform(materialize)
    )
    cuts = value_cuts(spend, "m_cents", group_cols=("_half",))
    tile = ntile_expr(F.col("rank"), F.col("n_rows"), tiles).cast("int")
    return (
        rank_rows(spend, cuts, "m_cents", "o_custkey", ("_half",))
        .groupBy("o_custkey")
        .agg(
            *[
                F.coalesce(F.max(F.when(F.col("_half") == h, tile)), F.lit(0)).alias(
                    f"tile_h{h}"
                )
                for h in (1, 2)
            ]
        )
        .groupBy("tile_h1", "tile_h2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("tile_h1", "tile_h2")
    )


def basket_communities(
    lineitem: DataFrame, min_support: int = 2
) -> DataFrame:
    """Product communities: connected components over the co-purchase
    pair graph — "families" of parts that recur together in baskets
    (the categoryless taxonomy a recommender bootstraps from).

    Composes the graph family's edge build
    (:func:`_copurchase_edges`: one collect_set shuffle, in-array pair
    generation, ``min_support`` pruning the long random-cooccurrence
    tail BEFORE any graph work)
    with :func:`operators.dedup.dedup_clusters`' min-label
    propagation — one keyed join + aggregate per round, no driver-side
    graph, the same machinery GraphX uses for CC (that op's
    heap-sized-to-the-pair-graph caveat applies; raise ``min_support``
    to shrink the graph). Output: one row per community —
    community_id (min part id), n_parts, n_edges — exact longs,
    ordered by size desc then id.
    """
    from data_pipeline_example_spark.operators.dedup import dedup_clusters

    # ONE blocking job for the pruned edge build AND its symmetrization
    # (r15, was two sequential checkpoints: edges, then dedup_clusters'
    # sym over its blocks): the symmetric frame materializes directly
    # off the pair aggregate and rides into the CC via ``sym_df``; the
    # directed edges for the per-community edge count are the a < b
    # half of the same blocks (pair generation emits part_a < part_b).
    canon = _copurchase_edges(lineitem, min_support).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    sym = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(materialize)
    edges = sym.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    cc = dedup_clusters(edges, sym_df=sym)
    sizes = cc.groupBy(F.col("cluster_id").alias("community_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    lab_a = cc.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("community_id")
    )
    edge_counts = (
        edges.join(lab_a, "doc_a")
        .groupBy("community_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        sizes.join(edge_counts, "community_id")
        .select("community_id", "n_parts", "n_edges")
        .orderBy(F.desc("n_parts"), F.asc("community_id"))
    )


def product_pagerank(
    lineitem: DataFrame,
    min_support: int = 2,
    iters: int = 5,
    top_n: int = 40,
) -> DataFrame:
    """PageRank centrality over the co-purchase product graph — the
    "anchor products" a recommender or merchandiser ranks by, and the
    engine's fixed-iteration *value*-propagation twin of
    :func:`basket_communities`' label propagation (reference analogue:
    the top-products leaderboard, ``sales_batch_report.py`` top-10 —
    this is its graph-aware generalization).

    Algorithm: the classic damped power iteration, run a FIXED
    ``iters`` rounds (deterministic output, no convergence test) over
    the symmetrized min-support pair graph from :func:`_copurchase_edges`
    (one collect_set shuffle, in-array pair generation). Each round is
    one keyed join + map-side-combined sum — the dedup_clusters /
    GraphX round shape; per-round lineage is cut through the
    ``materialize`` seam so round N never replays rounds 1..N-1.

    Exactness (cross-engine, the integer-micro discipline): ranks live
    in micro-units of 1e12. Every step is integer arithmetic —
    ``share = rank div degree`` (positive integral division: Spark
    ``div`` == DuckDB ``//`` on non-negatives), incoming mass is an
    order-free exact BIGINT sum, and the damping update is
    ``(15*base + 85*mass) div 100`` with ``base = SCALE div n_nodes``.
    No floats anywhere, so the DuckDB oracle replays the iteration
    bit-for-bit as an unrolled CTE chain.

    Scale shape: the graph frame (edges+degree) materializes ONCE and
    every round shuffles only |V|-sized rank rows on the node key; the
    ``min_support`` filter prunes the random-cooccurrence tail before
    any graph work. ``n_nodes`` is a planning-sized 1-row aggregate
    (the ivf_knn precedent). Output: top_n by (rank_micro desc,
    l_partkey) — TakeOrdered, never a full sort of ranks.
    """
    SCALE = 10**12
    pairs = _copurchase_edges(lineitem, min_support)
    sym = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).union(
        pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    # degree attaches to the edge list once — each iteration reads one
    # materialized (src, dst, d) frame and shuffles only rank rows
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    sym_deg = sym.join(deg, "src").transform(materialize)
    # the node frame is derived FROM the checkpointed edge frame — one
    # distinct over (src, d), one row per src, identical to ``deg`` —
    # so the second blocking job reads the checkpoint instead of
    # recomputing the whole basket pair graph a second time (r15: the
    # old ``deg``-derived form re-ran collect_set + pair explode +
    # groupBy for the node list; measured 4.3 s construct of which the
    # duplicated pair-graph computation was the bulk)
    nodes, n_nodes = materialize_counted(
        sym_deg.select(F.col("src").alias("node"), "d").distinct()
    )
    if n_nodes == 0:
        return nodes.select(
            F.col("node").alias("l_partkey"),
            F.col("d").alias("degree"),
            F.lit(0).cast("long").alias("rank_micro"),
        )
    base = SCALE // n_nodes
    # the node set is INVARIANT across rounds (every round left-joins
    # mass back onto it), so each round references the checkpointed
    # ``nodes`` frame instead of the previous round's ranks twice:
    # lineage stays LINEAR and the per-round eager checkpoints the old
    # form paid (iters driver-blocking jobs before the query returned)
    # are gone — the whole fixed-round chain now executes inside the
    # caller's single action, recovery riding on shuffle-file
    # persistence exactly like any multi-stage job (r15; the old form
    # measured 5.98 s construct / 0.04 s exec at sf0.1).
    ranks = nodes.select("node", F.lit(base).cast("long").alias("r"))
    for _ in range(int(iters)):
        mass = (
            sym_deg.join(ranks, sym_deg["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("cast(r div d as long)").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").cast("long").alias("mass"))
        )
        ranks = (
            nodes.select("node")
            .join(mass, "node", "left")
            .select(
                "node",
                F.expr(
                    f"cast(({15 * base} + 85 * coalesce(mass, 0L)) div 100 as long)"
                ).alias("r"),
            )
        )
    return (
        nodes.join(ranks, "node")
        .select(
            F.col("node").alias("l_partkey"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), F.asc("l_partkey"))
        .limit(int(top_n))
    )


def basket_graph_stats(lineitem: DataFrame, min_support: int = 2) -> DataFrame:
    """Co-purchase graph topology summary — node/edge counts, exact
    triangle count, wedge count, and the global clustering coefficient
    (how "cliquey" co-purchasing is; the health metric read before
    trusting :func:`basket_communities`' families or
    :func:`product_pagerank`'s centrality).

    Scale shape — triangle counting uses the degree-ORIENTED
    node-iterator join (Suri & Vassilvitskii's MR-friendly variant):
    every undirected edge is directed from its (degree, id)-smaller
    endpoint to the larger, which bounds the per-node out-fanout by
    O(sqrt(E)) and total wedge-join work by O(E^1.5) — the standard
    way triangle enumeration survives skewed degree distributions,
    vs the naive undirected wedge join's O(Σ deg²) blow-up on hub
    nodes. Two equi-joins total: oriented⋈oriented on the wedge
    apex, then the (v, w) candidate list probes the oriented edge
    set. The ``min_support`` filter prunes the graph before any of
    this (the basket_communities precedent).

    Exactness: all counts exact BIGINTs; wedges = Σ d(d−1)/2 in
    integer arithmetic (d(d−1) is always even); clustering coefficient
    is the integer-micro division 3·triangles·1e6 div wedges. Output:
    one row — n_nodes, n_edges, n_triangles, n_wedges,
    clustering_micro.
    """
    edges = (
        _copurchase_edges(lineitem, min_support)
        .select("part_a", "part_b")
        .transform(materialize)
    )
    sym = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).union(
        edges.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("node").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("part_b"), F.col("d").alias("db"))
    oriented = (
        edges.join(da, "part_a")
        .join(db, "part_b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("part_a") < F.col("part_b"))),
                F.struct(
                    F.col("part_a").alias("u"),
                    F.col("part_b").alias("v"),
                    F.col("db").alias("dv"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("part_b").alias("u"),
                    F.col("part_a").alias("v"),
                    F.col("da").alias("dv"),
                )
            )
            .alias("e")
        )
        .select("e.u", "e.v", "e.dv")
        .transform(materialize)
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedge = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedge.join(closing, ["v1", "v2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("cast(sum(d * (d - 1) div 2) as long)").alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "cast(case when n_wedges = 0 then 0 else "
                "(3 * n_triangles * 1000000) div n_wedges end as long)"
            ).alias("clustering_micro"),
        )
    )


def copurchase_link_prediction(
    lineitem: DataFrame,
    min_support: int = 2,
    max_degree: int = 32,
    top_n: int = 30,
) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph —
    "products never bought together that SHOULD be": for every
    non-adjacent product pair, the number of shared co-purchase
    neighbors and the Jaccard of their (capped) neighbor sets — the
    classic structural recommender signal (Liben-Nowell & Kleinberg
    2003, public), and the graph family's complement to
    :func:`product_pagerank` (node importance) and
    :func:`basket_communities` (partitioning): edge PREDICTION.

    Scale discipline (both levers the pruned-graph ops use, plus one):
    ``min_support`` drops random-cooccurrence edges before any graph
    work, and — new here — each node's adjacency list is HARD-CAPPED to
    its ``max_degree`` strongest edges (by cooccurrence count, id-tie
    deterministic), so the two-hop join is ≤ |V|·d² regardless of hub
    skew — the capped-twin discipline applied to graph fan-out.
    Common-neighbor counts are therefore counts WITHIN capped lists
    (oracle-mirrored; the exact-precision/approximate-recall trade).

    All integer arithmetic: jaccard_milli = 1000·common div
    (deg_a + deg_b − common) with degrees = capped list sizes. Output:
    top_n non-edges by (common DESC, jaccard_milli DESC, part_a,
    part_b): part_a, part_b, common_neighbors, jaccard_milli.
    """
    from pyspark.sql.window import Window

    cnt = _copurchase_edges(lineitem, min_support).transform(materialize)
    sym = cnt.select(
        F.col("part_a").alias("x"), F.col("part_b").alias("y"), "n"
    ).unionByName(
        cnt.select(F.col("part_b").alias("x"), F.col("part_a").alias("y"), "n")
    )
    w = Window.partitionBy("x").orderBy(F.desc("n"), F.asc("y"))
    adj = (
        sym.select("x", "y", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= int(max_degree))
        .select("x", "y")
        .transform(materialize)
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    two_hop = (
        adj.select(F.col("x").alias("a"), F.col("y").alias("z"))
        .join(adj.select(F.col("x").alias("z"), F.col("y").alias("b")), "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    non_edges = two_hop.join(
        cnt.select(F.col("part_a").alias("a"), F.col("part_b").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("x").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("x").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "common_neighbors",
            F.expr(
                "(common_neighbors * 1000) div (deg_a + deg_b - common_neighbors)"
            )
            .cast("long")
            .alias("jaccard_milli"),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"),
        F.desc("jaccard_milli"),
        "part_a",
        "part_b",
    ).limit(top_n)


def k_anonymity_audit(customer: DataFrame, k: int = 10) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier — the governance gate a dataset release runs before
    shipping rows that could be re-identified by joining public
    attributes (Sweeney 2002, public): any quasi-identifier group with
    fewer than ``k`` members exposes its rows.

    One hash aggregate over the bounded quasi domain (|nations| ×
    |segments| groups regardless of corpus size — the audit frame
    never grows with the data), then the unsafe groups with their
    sizes. Output: c_nationkey, c_mktsegment, group_size, ordered by
    (group_size, c_nationkey, c_mktsegment) — release tooling treats
    any emitted row as a suppress-or-generalize work item.
    """
    return (
        customer.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < int(k))
        .orderBy("group_size", "c_nationkey", "c_mktsegment")
    )


def basket_kcore(
    lineitem: DataFrame,
    min_support: int = 2,
    k: int = 3,
    peel_rounds: int = 8,
) -> DataFrame:
    """k-core decomposition of the co-purchase graph — the densest
    stable backbone: iteratively peel every product with fewer than
    ``k`` surviving neighbors until (bounded) fixpoint. The k-core is
    what survives when fringe items drop out, so it's the recommender
    family's cohesion complement to :func:`basket_communities`
    (partitioning), :func:`product_pagerank` (centrality), and
    :func:`copurchase_link_prediction` (edge prediction).

    Determinism/oracle contract: EXACTLY ``peel_rounds`` peeling
    rounds, the :func:`kmeans_embeddings` fixed-iteration discipline —
    every round drops all sub-k nodes simultaneously, so the result is
    order-free and the DuckDB oracle unrolls the same rounds verbatim
    (peeling is monotone: each round's survivor set only shrinks, and
    once stable all later rounds are no-ops, so rounds ≥ convergence
    depth give the true k-core; the test pins convergence on planted
    graphs). Per round: ONE |E'|-sized semi-join + a degree aggregate
    over the materialized edge frame — the dedup_clusters round shape;
    the min_support prune bounds |E| before any peeling.

    Output: node (l_partkey), degree (within the final survivor set),
    ordered by node.
    """
    cnt = _copurchase_edges(lineitem, min_support)
    sym, prev_edges = materialize_counted(
        cnt.select(
            F.col("part_a").alias("x"), F.col("part_b").alias("y")
        ).unionByName(
            cnt.select(F.col("part_b").alias("x"), F.col("part_a").alias("y"))
        )
    )

    edges = sym
    for _ in range(int(peel_rounds)):
        keep = (
            edges.groupBy("x")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .filter(F.col("deg") >= int(k))
            .select("x")
        )
        # early exit at fixpoint: a round that removes nothing makes
        # every later round a no-op, so breaking is value-identical to
        # running all peel_rounds (the oracle still unrolls them all —
        # its extra rounds are no-ops too). Each round is two
        # driver-blocking jobs: the checkpoint, then a count scan of
        # its blocks (materialize_counted). Cut sf10 wall-clock on
        # graphs that converge in 2-3 rounds (most do).
        edges, n = materialize_counted(
            edges.join(keep, "x")
            .join(keep.select(F.col("x").alias("y")), "y")
            .select("x", "y")
        )
        if n == prev_edges:
            break
        prev_edges = n
    return (
        edges.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .orderBy("node")
    )


def forecast_backtest(lineitem: DataFrame) -> DataFrame:
    """Rolling-origin backtest of the two naive forecasting baselines —
    the evaluation every production forecast ships with (a model that
    can't beat last-month / same-month-last-year isn't a model):
    predict each month's revenue by (a) the previous month (naive-1)
    and (b) the same month one year earlier (naive-12, the seasonal
    baseline :func:`revenue_seasonality` justifies), score both on
    every month where the lag exists.

    Exactness: monthly totals are integer cents; the per-month
    absolute-percentage and bias errors are two-step integral
    divisions (|a−p|·1e6 div a, then the mean over evaluated months
    div n) so the scores hash-match the oracle. The lag windows run
    over the MONTH-granular aggregate (≤ a few hundred rows for
    decades of data — bounded domain, aggregate beneath). Output:
    method, n_eval, mape_micro, bias_micro, ordered by method.
    """
    from pyspark.sql.window import Window

    monthly = lineitem.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("m")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("m")
    # materialize AFTER the lag window: one corpus scan feeds both
    # method branches, and the window's bounded input (the month-
    # granular aggregate) stays visible in its own plan
    lagged = monthly.select(
        "m",
        "cents",
        F.lag("cents", 1).over(w).alias("p1"),
        F.lag("cents", 12).over(w).alias("p12"),
    ).transform(materialize)

    def score(pred_col: str, method: str):
        evald = lagged.filter(
            F.col(pred_col).isNotNull() & (F.col("cents") > 0)
        ).select(
            F.expr(f"(abs(cents - {pred_col}) * 1000000) div cents").alias("ape"),
            F.expr(f"(({pred_col} - cents) * 1000000) div cents").alias("pe"),
        )
        return evald.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.expr("sum(ape) div count(1)").cast("long").alias("mape_micro"),
            F.expr("sum(pe) div count(1)").cast("long").alias("bias_micro"),
        ).select("method", "n_eval", "mape_micro", "bias_micro")

    return score("p1", "naive_1").unionByName(score("p12", "naive_12")).orderBy(
        "method"
    )
