"""Two-decade scaling measurement: run the bench headline set at
sf0.1 AND the upsampled sf1 (tools/gen_sf.py) and report per-query
wall-clock ratios against the 10× data growth.

    python tools/bench_scaling.py [sf_small] [sf_big]

Prints one JSON line:
    {"metric": "scaling_sf0.1_to_sf1", "queries": {name:
        {"small": s, "big": s, "ratio": big/small}}, ...}

Render mode — regenerate BASELINE.md's measured-scaling table from a
recorded bench artifact instead of hand-transcribing numbers (the
round-4 verdict found a transcription drift):

    python tools/bench_scaling.py --render-md BENCH_r04.json [label]

Accepts either bench.py's one-line JSON or a driver BENCH_r{N}.json
record (the JSON line is extracted from its "tail"). Prints the
markdown rows + worst-query list computed from the artifact itself.

A ratio near 10 is linear for a 32-thread fixed-resource host once the
query is compute-bound; well under 10 means fixed per-query overhead
(plan latency, Arrow worker spin-up) still dominates at sf0.1. Ratios
meaningfully above ~15 flag super-linear work or a spilling shuffle —
those get a plan audit (VERDICT r3 asked for exactly this evidence).

Timing protocol matches bench.py: noop sink (full plan executes,
nothing collected), min of 2 runs, adaptive 3rd on >40% disagreement.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _drop_persisted(spark) -> None:
    """Unpersist every RDD the last timed run left behind. Operators
    that materialize intermediates (the `.transform(materialize)`
    sites: basket arrays, signature frames, CC label rounds) register
    localCheckpoint blocks that live until the session dies; each
    timed run builds a FRESH DataFrame, so the previous run's blocks
    are garbage — but Spark doesn't know that, and at sf10 four
    retained basket frames plus CC rounds exhausted the 8 GB harness
    heap (r8 run log). Safe between runs: the prior run's frames are
    never referenced again."""
    try:
        # py4j auto-converts the java.util.Map to a dict-like view
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    except Exception:
        pass


def time_query(fn, spark, sf_dir) -> float:
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        _drop_persisted(spark)
    if min(runs) > 0.5 and abs(runs[0] - runs[1]) / min(runs) > 0.4:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        _drop_persisted(spark)
    return round(min(runs), 3)


def load_bench_record(path: str) -> dict:
    """A bench.py JSON line, or a driver BENCH_r{N}.json whose 'tail'
    embeds one — returns the parsed bench record either way."""
    import re

    with open(path) as fh:
        rec = json.load(fh)
    if "tail" in rec and "queries" not in rec:
        m = re.search(r'\{"metric".*', rec["tail"])
        if not m:
            raise SystemExit(f"no bench JSON line found in {path}")
        rec = json.loads(m.group(0))
    return rec


def render_md(path: str, label: str = "") -> str:
    """BASELINE.md's measured-scaling block, computed from the artifact.

    Accepts bench.py records (headline 'queries' + 'scaling' section,
    incl. driver BENCH_r{N}.json wrappers) AND bench_scaling.py's own
    output ({'queries': {q: {small, big, ratio}}, ...})."""
    rec = load_bench_record(path)
    small_label, big_label = "sf0.1", "sf1 (10x upsampled)"
    if rec.get("metric") == "scaling_sf0.1_to_sf1":
        small = {q: v["small"] for q, v in rec["queries"].items()}
        big = {q: v["big"] for q, v in rec["queries"].items()}
        small_total, big_total = rec["small_total"], rec["big_total"]
        if "small_dir" in rec:  # custom-dir runs label from the dirs
            small_label = os.path.basename(rec["small_dir"].rstrip("/"))
            big_label = (
                os.path.basename(rec["big_dir"].rstrip("/")) + " (10x upsampled)"
            )
    else:
        scaling = rec.get("scaling")
        if not scaling:
            raise SystemExit(f"{path} has no 'scaling' section")
        small = rec["queries"]
        big = scaling["sf1_queries"]
        small_total = rec["value"]
        big_total = scaling.get("sf1_total") or round(sum(big.values()), 3)
    shared = [q for q in small if q in big]
    ratios = sorted(
        ((q, big[q] / small[q]) for q in shared if small[q] > 0),
        key=lambda t: -t[1],
    )
    tag = f" — {label}" if label else ""
    lines = [
        f"Source artifact: `{os.path.basename(path)}`{tag} "
        f"(regenerate: `python tools/bench_scaling.py --render-md {os.path.basename(path)}`)",
        "",
        "| Scale | headline total ({} queries) | vs {} |".format(len(small), small_label),
        "|---|---|---|",
        f"| {small_label} | {small_total:.1f} s | — |",
        f"| {big_label} | {big_total:.1f} s | x{big_total / small_total:.2f} |",
        "",
        "Worst per-query ratios (10x data): "
        + ", ".join(
            f"`{q}` x{r:.1f} ({small[q]:.2f}→{big[q]:.2f} s)" for q, r in ratios[:4]
        ),
    ]
    return "\n".join(lines)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--render-md":
        print(render_md(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else ""))
        return
    from bench import HEADLINE
    from data_pipeline_example_spark.plans.queries import QUERIES
    from data_pipeline_example_spark.session import get_spark

    argv = sys.argv[1:]
    subset = None
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--queries" in argv:
        i = argv.index("--queries")
        subset = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    small = argv[0] if argv else "/root/testdata/sf0.1"
    big = argv[1] if len(argv) > 1 else os.path.join(_REPO, ".localdata", "sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # sf10 fits in 8g; third-decade (sf100) chunks need more — override
    # per run, the JVM heap is fixed at session start
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = get_spark(
        app_name="bench_scaling",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": mem},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(int(cpus)).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in subset if subset else HEADLINE:
        fn = QUERIES[name]
        # per-query fault isolation: an sf-infeasible exact anchor (the
        # r11 sweep hit nearest_neighbor's documented O(n²·d) Arrow
        # batch OOMing at sf10) records an error row instead of sinking
        # the remaining queries of the run
        try:
            s = time_query(fn, spark, small)
        except Exception as exc:  # noqa: BLE001 — record and continue
            _drop_persisted(spark)
            out[name] = {"error": f"small: {type(exc).__name__}"}
            print(f"  {name:32s} ERROR at small ({type(exc).__name__})", file=sys.stderr)
            continue
        try:
            b = time_query(fn, spark, big)
        except Exception as exc:  # noqa: BLE001
            _drop_persisted(spark)
            out[name] = {"small": s, "big": None, "error": f"big: {type(exc).__name__}"}
            print(f"  {name:32s} {s:7.3f}s -> ERROR at big ({type(exc).__name__})", file=sys.stderr)
            continue
        out[name] = {"small": s, "big": b, "ratio": round(b / s, 2) if s else None}
        print(f"  {name:32s} {s:7.3f}s -> {b:7.3f}s  x{out[name]['ratio']}", file=sys.stderr)

    timed = [v for v in out.values() if v.get("big") is not None]
    totals = {
        "small_total": round(sum(v["small"] for v in timed), 3),
        "big_total": round(sum(v["big"] for v in timed), 3),
    }
    # per-query fault isolation can leave zero timed queries (every one
    # errored at the small decade) — report null instead of raising
    totals["total_ratio"] = (
        round(totals["big_total"] / totals["small_total"], 2)
        if totals["small_total"]
        else None
    )
    rec = {
        "metric": "scaling_sf0.1_to_sf1",
        "data_factor": 10,
        "small_dir": small,
        "big_dir": big,
        "queries": out,
        **totals,
    }
    if out_path:
        # json.dump straight to the artifact file — NEVER via redirected
        # stdout, which interleaves JVM GC warnings into the byte stream
        # (the r8 corrupted-artifact defect: scaling_r8_capped_retail_*
        # failed json.load because gc,alloc lines landed mid-record)
        with open(out_path, "w") as fh:
            json.dump(rec, fh, indent=1)
        print(f"artifact written: {out_path}", file=sys.stderr)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
