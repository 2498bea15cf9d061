"""Construct-job census of the headline queries: the rule behind the
frozen ``queries-eager`` / ``queries-lazy`` lists and the ``timed``
subset in ``perfbench/design.json``.

    python3 perfbench/census.py <sf_dir> [out.json]

Runs each ``bench.HEADLINE`` query once, in list order, on one warmed
``local[4]`` session, as the benchmark's traced pass does (``run.query_op``):
construct under job group ``c:<name>``, then the noop write under
``x:<name>``. A query is *eager* when its construct step fires any job
other than the parquet schema inference of its ``load_table`` calls.
Prints one JSON document with the per-query counts, the two lists and
the totals; on sf0.01 its ``timed`` list is the ``queries-eager``
subset the benchmark runs (:func:`pick_timed`).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import run  # noqa: E402
from measure import JOB_CLASSES, group_job_classes  # noqa: E402


#: the ``timed`` rule: an eager query qualifies when construction takes
#: at least this share of its census wall ...
TIMED_CONSTRUCT_SHARE = 0.75
#: ... and qualifying queries are taken, cheapest first, while the
#: subset's census wall (the served_warm pair included) stays within this
TIMED_BUDGET_S = 8.0


def pick_timed(queries: dict, eager: list[str], served_warm: list[str]) -> list[str]:
    """The ``queries-eager`` ops the benchmark times, from an sf0.01 census
    (``queries`` maps a name to its ``construct_s`` and ``execute_s``):
    the served_warm pair, then the construct-bound eager queries in
    ascending census wall (ties by name) up to :data:`TIMED_BUDGET_S`."""

    def wall(n):
        return queries[n]["construct_s"] + queries[n]["execute_s"]

    picked = list(served_warm)
    total = sum(wall(n) for n in picked)
    bound = [n for n in eager if n not in served_warm
             and queries[n]["construct_s"] >= TIMED_CONSTRUCT_SHARE * wall(n)]
    for n in sorted(bound, key=lambda n: (wall(n), n)):
        if total + wall(n) > TIMED_BUDGET_S:
            break
        picked.append(n)
        total += wall(n)
    return picked


def warm_up(spark, sf_dir: str) -> None:
    """JVM, codegen, parquet-reader and Arrow-worker warm-up: the three
    touches ``bench.py`` makes before timing."""
    harness.noop_write(spark.range(1_000_000).selectExpr("sum(id)"))
    harness.noop_write(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))
    harness.noop_write(
        spark.range(harness.CORES).repartition(harness.CORES)
        .mapInPandas(lambda it: it, "id long")
    )


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    sf_dir = os.path.abspath(argv[0])
    harness.import_engine()
    import bench
    from data_pipeline_example_spark.plans import queries as Q

    work = harness.make_work_dir("census")
    spark = harness.start_spark(work)
    per_query = {}
    try:
        warm_up(spark, sf_dir)
        sc = spark.sparkContext
        for name in bench.HEADLINE:
            with run.counted_loads(Q) as loads:
                t0, t1, t2 = run.query_op(spark, Q, name, sf_dir, name)
            construct = group_job_classes(sc, f"c:{name}")
            per_query[name] = {
                "load_calls": loads["n"],
                "construct_s": round(t1 - t0, 3),
                "execute_s": round(t2 - t1, 3),
                "construct_jobs": construct,
                "execute_jobs": sum(group_job_classes(sc, f"x:{name}").values()),
            }
            print(name, json.dumps(per_query[name]), file=sys.stderr, flush=True)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    eager = [n for n, q in per_query.items()
             if sum(q["construct_jobs"].values()) > q["construct_jobs"]["schema"]]
    lazy = [n for n in per_query if n not in eager]

    def total(names, key):
        return round(sum(per_query[n][key] for n in names), 3)

    doc = {
        "sf_dir": sf_dir,
        "rule": "eager iff the construct step fires any job other than parquet schema inference",
        "eager": eager,
        "lazy": lazy,
        "timed": pick_timed(per_query, eager, run.design_of("queries-eager")["served_warm"]),
        "totals": {
            "construct_jobs": {c: sum(q["construct_jobs"][c] for q in per_query.values())
                               for c in JOB_CLASSES},
            "load_calls": sum(q["load_calls"] for q in per_query.values()),
            "execute_jobs": sum(q["execute_jobs"] for q in per_query.values()),
            "eager_construct_s": total(eager, "construct_s"),
            "eager_execute_s": total(eager, "execute_s"),
            "lazy_construct_s": total(lazy, "construct_s"),
            "lazy_execute_s": total(lazy, "execute_s"),
        },
        "queries": per_query,
    }
    text = json.dumps(doc, indent=1)
    if len(argv) > 1:
        with open(argv[1], "w") as fh:
            fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
