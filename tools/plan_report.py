"""Generate PLANS.md — a physical-plan quality summary for every
registered query.

For each entry in ``queries()`` this prints the properties the 100 TB
design notes promise: how many shuffles the plan has, which join
strategies Catalyst picked, whether filters reached the parquet scans,
and where the (deliberate, Arrow-batched) Python boundaries are.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from data_pipeline_example_spark.plans.queries import QUERIES
    from data_pipeline_example_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    jvm = spark._jvm

    print("# Physical-plan summary per registered query")
    print()
    print(f"Generated by `tools/plan_report.py` at `{sf_dir}`. Columns:")
    print("shuffle exchanges / broadcast-hash joins / sort-merge joins /")
    print("whole-stage-codegen spans / filters pushed to a scan / Arrow")
    print("(vectorized Python) boundaries. Row-UDF column should always")
    print("be 0 — row-at-a-time Python never appears in any plan.")
    print("(codegen is counted on the pre-execution plan; AQE-wrapped")
    print("plans show 0 there even though stages compile at runtime —")
    print("the exchange/join columns are the load-bearing ones.)")
    print()
    print("Scans column: counts ALL parquet scan nodes, including tiny")
    print("dimension re-reads (the TPC-H chains re-scan nation/region/")
    print("supplier per role — cheap at any scale) and PRUNED reads")
    print("(ivfpq_knn's extra scans carry vec_id/probe pushed filters;")
    print("its 100 TB serving path is the partition-pruned index of")
    print("ivfpq_knn_index_batch). The r6 single-scan sweep eliminated the")
    print("cases where a CORPUS-sized column was re-read per branch")
    print("(corpus_funnel, dsir_weights, bigram_lm_scores,")
    print("ccnet_buckets, join_size_estimate, cosine_dup_pairs_blocked,")
    print("substring_dedup, winnowing).")
    print()
    print("| query | scans | exchanges | BHJ | SMJ | codegen | pushed | arrow | row-udf |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = jvm.PythonSQLUtils.explainString(qe, "formatted")
        simple = jvm.PythonSQLUtils.explainString(qe, "simple")
        exch = len(
            re.findall(
                r"Arguments: (?:hashpartitioning|rangepartitioning|SinglePartition)",
                plan,
            )
        )
        bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
        smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
        wsc = len(set(re.findall(r"\*\((\d+)\)", simple)))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        arrow = (
            plan.count("ArrowEvalPython")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandasWithState")
        )
        rowudf = plan.count("BatchEvalPython")
        # source-scan count: parquet file scans in the final plan.
        # Operators that localCheckpoint (corpus_funnel, jaccard-pair
        # family) read parquet once at CONSTRUCTION time and show only
        # Scan ExistingRDD here — so for those, total parquet scans =
        # this column + 1.
        scans = len(re.findall(r"Scan parquet", plan))
        print(
            f"| {name} | {scans} | {exch} | {bhj} | {smj} | {wsc} | {pushed} | {arrow} | {rowudf} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
