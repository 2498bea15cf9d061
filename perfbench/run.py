"""Benchmark of the retail analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (``perfbench/design.json`` holds the frozen query lists and
the rest of the design):

* ``queries-eager`` — headline queries whose construction fires Spark jobs
  beyond schema inference; one op = ``QUERIES[name](spark, sf)`` plus a
  noop write, over a copy of the sf0.01 tables;
* ``etl-roundtrip`` — batch pipeline, curation, the windowed stream and
  the dashboard server, on inputs generated from the seed; its ops are
  the stream's micro-batches;

``perfbench/design.json`` also freezes ``queries-lazy``, the other
headline queries, which this runner does not run (see its ``status``).

Every run starts one ``local[4]`` session and sets up: the query
workloads collect every query once and compare it with its DuckDB twin
(the warm-up, which also builds the cache-served layouts), the ETL
workload generates its inputs and makes one small warm-up round trip.
It then measures a fixed number of whole passes (round trips) for about
``--seconds`` seconds; the round trip's outputs are checked after it.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``;
per-layer metrics from one event-logged pass with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import measure  # noqa: E402
from measure import JOB_CLASSES, Spans, median, tail  # noqa: E402

DESIGN = os.path.join(harness.HERE, "design.json")
WORKLOADS = ("queries-eager", "etl-roundtrip")
#: an op slower than this counts as failed (timed out)
OP_TIMEOUT_S = 60.0
#: fewest timed passes of a query workload: the run's medians pool at
#: least this many orders of its ops
QUERY_PASSES = 4

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "trace.run_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.schema_jobs": "count",
    "construct.s": "s",
    "construct.jobs": "count",
    "construct.checkpoint_jobs": "count",
    "construct.collect_jobs": "count",
    "construct.other_jobs": "count",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.shuffle_read_bytes": "bytes",
    "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "execute.cpu_util": "ratio",
    "execute.gc_s": "s",
    "pipeline.batch_s": "s",
    "pipeline.jobs": "count",
    "conform.rows_in": "count",
    "conform.invalid_dates": "count",
    "conform.null_amounts": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "curation.s": "s",
    "curation.jobs": "count",
    "curation.checkpoint_jobs": "count",
    "curation.bytes_written": "bytes",
    "streaming.rows_per_s": "rows/s",
    "streaming.triggers": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.trigger_tail_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "serving.refresh_s": "s",
    "serving.daily_payload_s": "s",
    "serving.stream_payload_s": "s",
    "serving.jobs": "count",
    "serving.payload_bytes": "bytes",
    "http_serving.get_p50_ms": "ms",
    "http_serving.get_tail_ms": "ms",
    "http_serving.errors": "count",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = harness.make_work_dir(f"{workload}-s{seed}-t{int(trace)}")
        self.event_dir = os.path.join(self.work, "events") if trace else None
        self.spans = Spans(f"{workload}:{seed}:{int(trace)}")
        self.layer = dict.fromkeys(PER_LAYER, 0)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {"workload": workload, "seed": seed}
        self.spark = None

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)


# -- queries workloads ---------------------------------------------------------


def design_of(workload: str) -> dict:
    with open(DESIGN) as fh:
        return json.load(fh)["workloads"][workload]


def passes_for(seconds: float, nominal_s: float, least: int) -> int:
    """Whole passes that fill about ``seconds``, and at least ``least``:
    a fixed count per ``--seconds``, so every run pools as many ops."""
    return max(least, round(seconds / nominal_s))


def pass_order(names: list[str], seed: int, k: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{k}").shuffle(order)
    return order


@contextlib.contextmanager
def counted_loads(Q, on: bool = True):
    """Count and time the ``load_table`` calls of ``plans.queries`` (its
    only importer) while the block runs; yields ``{"n": calls, "s":
    seconds}``, which stays zero when ``on`` is false."""
    loads = {"n": 0, "s": 0.0}
    real_load = Q.load_table

    def timed_load(*args, **kwargs):
        t0 = harness.now()
        try:
            return real_load(*args, **kwargs)
        finally:
            loads["n"] += 1
            loads["s"] += harness.now() - t0

    if on:
        Q.load_table = timed_load
    try:
        yield loads
    finally:
        Q.load_table = real_load


def query_op(spark, Q, name: str, sf: str, group: str | None) -> tuple[float, float, float]:
    """One op: construct ``QUERIES[name](spark, sf)``, then write it to the
    noop sink. With ``group`` the two phases run under the job groups
    ``c:<group>`` and ``x:<group>``. Returns the start, construct-end
    and end times."""
    sc = spark.sparkContext
    if group is not None:
        sc.setJobGroup(f"c:{group}", name)
    t0 = harness.now()
    df = Q.QUERIES[name](spark, sf)
    t1 = harness.now()
    if group is not None:
        sc.setJobGroup(f"x:{group}", name)
    harness.noop_write(df)
    return t0, t1, harness.now()


def run_queries(run: Run) -> dict:
    from data_pipeline_example_spark.plans import queries as Q

    design = design_of(run.workload)
    names = list(design["timed"])
    passes = 1 if run.trace else passes_for(run.seconds, design["nominal_pass_s"], QUERY_PASSES)
    t_setup = harness.now()
    # a fresh copy per run: the cache-served layouts (ANN index, packed
    # blocks) are keyed by input path and fingerprint, so every run
    # builds them in its own setup instead of finding an earlier run's
    sf = os.path.join(run.work, "sf")
    shutil.copytree(harness.DATA_DIR, sf)
    cache_root = os.path.join(harness.ROOT, ".localdata")
    before = _cache_dirs(cache_root)
    t_start = harness.now()
    run.spark = spark = harness.start_spark(run.work, run.event_dir)
    run.group("setup")
    try:
        t_warm = harness.now()
        # the warm-up pass is the output check: it collects every query
        # (building the served_warm layouts on the way) and compares it
        # with DuckDB; the DuckDB side is not counted in setup_s
        bad, oracle_s = check_queries(run, Q, sf, names)
        setup_s = harness.now() - t_setup - oracle_s
        run.info["setup_parts_s"] = {
            "copy": round(t_start - t_setup, 3),
            "session": round(t_warm - t_start, 3),
            "warm_pass": round(setup_s - (t_warm - t_setup), 3),
        }
        run.info["oracle_s"] = round(oracle_s, 3)

        walls: dict[str, list[float]] = {n: [] for n in names}
        pass_walls: list[float] = []
        construct_s = execute_s = 0.0
        classes = dict.fromkeys(JOB_CLASSES, 0)
        failed_names: set[str] = set()
        with counted_loads(Q, run.trace) as loads:
            for k in range(passes):
                t_pass = harness.now()
                for i, name in enumerate(pass_order(names, run.seed, k)):
                    run.attempted += 1
                    group = f"{k}:{i}:{name}" if run.trace else None
                    try:
                        t0, t1, t2 = query_op(spark, Q, name, sf, group)
                    except Exception as exc:  # noqa: BLE001 - a failing op is counted
                        run.failed += 1
                        failed_names.add(name)
                        run.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                        continue
                    if t2 - t0 > OP_TIMEOUT_S:
                        run.failed += 1
                        run.problems.append(f"{name}: timed out ({t2 - t0:.1f} s)")
                    walls[name].append(t2 - t0)
                    construct_s += t1 - t0
                    execute_s += t2 - t1
                    run.spans.add(name, t0, t2, parent=f"pass{k}", construct_end=t1)
                    if group is not None:
                        for c, v in measure.group_job_classes(
                            spark.sparkContext, f"c:{group}"
                        ).items():
                            classes[c] += v
                t_end = harness.now()
                run.spans.add(f"pass{k}", t_pass, t_end, parent=None)
                pass_walls.append(t_end - t_pass)
        run.failed += sum(len(walls[n]) for n in bad - failed_names)
        run.info["passes"] = passes
        run.info["served_warm"] = design.get("served_warm", [])
        run.info["op_median_s"] = {n: round(median(w), 4) for n, w in walls.items() if w}
        peak = harness.peak_rss_mb(spark)
    finally:
        harness.stop_spark(spark)
        for d in _cache_dirs(cache_root) - before:
            shutil.rmtree(d, ignore_errors=True)

    all_walls = [w for ws in walls.values() for w in ws]
    if run.trace:
        stats = measure.read_event_log(_event_log(run.event_dir))
        ex = measure.sum_groups(stats, "x:")
        L = run.layer
        L["trace.run_s"] = min(pass_walls)
        L["sources.load_calls"] = loads["n"]
        L["sources.load_s"] = loads["s"]
        L["sources.schema_jobs"] = classes["schema"]
        L["construct.s"] = construct_s
        L["construct.jobs"] = sum(classes.values())
        L["construct.checkpoint_jobs"] = classes["checkpoint"]
        L["construct.collect_jobs"] = classes["collect"]
        L["construct.other_jobs"] = classes["other"]
        _execute_layer(L, ex, execute_s)
        return {}
    pct, op_tail, n = tail(all_walls)
    run.info["op_tail"] = {"percentile": round(pct, 2), "n": n}
    return {
        "setup_s": setup_s,
        # the fastest pass: host slowdowns on a shared machine last tens of
        # seconds and would otherwise read as the program's
        "run_s": min(pass_walls),
        "op_p50_s": median(all_walls),
        "op_tail_s": op_tail,
        "peak_rss_mb": peak,
    }


def _cache_dirs(root: str) -> set[str]:
    out = set()
    for kind in ("ann_cache", "packed_cache"):
        d = os.path.join(root, kind)
        if os.path.isdir(d):
            out.update(os.path.join(d, x) for x in os.listdir(d))
    return out


def _event_log(event_dir: str) -> str:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    return logs[0]


def _execute_layer(L: dict, ex, execute_s: float) -> None:
    L["execute.s"] = execute_s
    L["execute.jobs"] = ex.jobs
    L["execute.stages"] = ex.stages
    L["execute.tasks"] = ex.tasks
    L["execute.shuffle_read_bytes"] = ex.shuffle_read_bytes
    L["execute.shuffle_write_bytes"] = ex.shuffle_write_bytes
    L["execute.spill_bytes"] = ex.spill_bytes
    L["execute.cpu_util"] = ex.cpu_ns / 1e9 / (execute_s * harness.CORES) if execute_s else 0.0
    L["execute.gc_s"] = ex.gc_ms / 1000.0


def check_queries(run: Run, Q, sf: str, names: list[str]) -> tuple[set[str], float]:
    """Collect every query and compare it with its DuckDB twin
    (``plans.oracles``), normalised as ``tools/validate_oracle.py`` does,
    with a 1e-6 relative float tolerance. Returns the mismatching names
    and the seconds spent outside Spark (DuckDB and the comparison)."""
    import duckdb

    from data_pipeline_example_spark.plans.oracles import ORACLES
    from data_pipeline_example_spark.sources import TABLE_NAMES

    norm_cell = _oracle_norm()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    bad = set()
    t_start = harness.now()
    spark_s = 0.0
    for name in names:
        try:
            t0 = harness.now()
            sdf = Q.QUERIES[name](run.spark, sf)
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            t1 = harness.now()
            spark_s += t1 - t0
            run.spans.add(name, t0, t1, parent="check")
            res = con.execute(ORACLES[name])
            ocols, orows = [d[0] for d in res.description], res.fetchall()
        except Exception as exc:  # noqa: BLE001 - a failing check is a mismatch
            run.problems.append(f"check {name}: {type(exc).__name__}: {exc}"[:300])
            bad.add(name)
            continue
        why = compare_tables(scols, srows, ocols, orows, norm_cell)
        if why:
            run.problems.append(f"check {name}: {why}")
            bad.add(name)
    con.close()
    return bad, harness.now() - t_start - spark_s


def _oracle_norm():
    """``norm_cell`` of tools/validate_oracle.py, imported without keeping
    the import-path entry that module adds for itself."""
    saved = list(sys.path)
    try:
        from tools.validate_oracle import norm_cell
    finally:
        sys.path[:] = saved
    return norm_cell


def compare_tables(scols, srows, ocols, orows, norm_cell) -> str | None:
    """``None`` when the two results hold the same rows, else why not.
    Columns are matched by name; rows are compared as multisets, cells
    by ``norm_cell`` except floats, which may differ by 1e-6 relative."""
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} vs {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} vs {len(orows)}"

    def key_rows(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            cells = [r[i] for i in order]
            exact = tuple("~" if isinstance(c, float) else norm_cell(c) for c in cells)
            floats = tuple(c for c in cells if isinstance(c, float))
            out.append((exact, floats))
        return sorted(out, key=lambda t: (t[0], [(f != f, f) for f in t[1]]))

    for (se, sf_), (oe, of_) in zip(key_rows(scols, srows), key_rows(ocols, orows)):
        if se != oe or len(sf_) != len(of_):
            return f"row {se} vs {oe}"
        if not all(measure.close(a, b) for a, b in zip(sf_, of_)):
            return f"floats {sf_} vs {of_} at {se}"
    return None


# -- etl workload ----------------------------------------------------------------


def run_etl(run: Run) -> dict:
    import duckdb
    import etl
    from data_pipeline_example_spark import curation, pipeline, serving
    from data_pipeline_example_spark.http_serving import DashboardServer
    from data_pipeline_example_spark.sources import load_table

    shape = etl.Shape()
    t_setup = harness.now()
    parts = run.info["setup_parts_s"] = {}
    inputs = etl.generate(run.seed, os.path.join(run.work, "inputs"), shape)
    warm_shape = etl.Shape(days=2, rows_per_day=100, stream_days=2, stream_files=3, gets=30)
    warm_inputs = etl.generate(run.seed + 1, os.path.join(run.work, "warm_inputs"), warm_shape)
    sf = os.path.join(run.work, "sf")
    shutil.copytree(harness.DATA_DIR, sf)
    t_start = harness.now()
    parts["generate"] = round(t_start - t_setup, 3)
    run.spark = spark = harness.start_spark(run.work, run.event_dir)
    parts["session"] = round(harness.now() - t_start, 3)
    run.group("setup")
    docs_path = os.path.join(sf, "documents.parquet")
    # every trip writes to the same fresh paths, so one dashboard server,
    # built and started in setup, serves every trip's outputs
    out = etl.outputs_under(os.path.join(run.work, "out"))
    payload_s = {"daily": [], "stream": []}

    def daily_fn():
        t0 = harness.now()
        try:
            return serving.daily_payload(spark.read.parquet(out.daily))
        finally:
            payload_s["daily"].append(harness.now() - t0)

    def stream_fn():
        t0 = harness.now()
        try:
            return serving.stream_payload(spark.read.parquet(out.stream))
        finally:
            payload_s["stream"].append(harness.now() - t0)

    server = None
    docs = load_table(spark, sf, "documents")

    def trip(k: int, inp, gets: int, check: bool) -> dict:
        """One round trip; its jobs run in groups ``t<k>:<step>``."""
        nonlocal server
        shutil.rmtree(os.path.dirname(out.daily), ignore_errors=True)
        t = {}
        parent = f"trip{k}"
        run.group(f"t{k}:batch")
        with run.spans.timed("pipeline.run_batch_pipeline", parent) as s:
            res = pipeline.run_batch_pipeline(spark, inp.csv_dir, out.daily,
                                              csv_output_path=out.csv)
        t["batch"] = s.seconds
        run.group(f"t{k}:curation")
        with run.spans.timed("curation.run_curation", parent) as s:
            manifest = curation.run_curation(spark, docs, out.curation).collect()
        t["curation"] = s.seconds
        run.group(f"t{k}:stream")
        with run.spans.timed("streaming.job.run_pipeline", parent) as s:
            progress, stream_group = etl.run_stream(spark, inp.json_dir, out)
        t["stream"] = s.seconds
        run.group(f"t{k}:refresh")
        if server is None:
            server = DashboardServer(daily_fn, stream_fn)
            server.start()
        with run.spans.timed("http_serving.DashboardServer.refresh", parent) as s:
            server.refresh()
        t["refresh"] = s.seconds
        with run.spans.timed("http_serving.gets", parent) as s:
            lat, errors, bodies = etl.http_gets(server.port, gets)
        t["gets"] = s.seconds
        daily_payload = json.loads(bodies["/api/daily"])
        t.update(lat=lat, errors=errors, progress=progress, stream_group=stream_group,
                 metrics=res.observed_metrics,
                 daily_payload_s=payload_s["daily"][-1],
                 stream_payload_s=payload_s["stream"][-1],
                 payload_bytes=len(bodies["/api/daily"]) + len(bodies["/api/stream"]))
        if check:
            run.group("check")
            con = duckdb.connect()
            try:
                run.problems += etl.check_batch(con, inp, out)
                run.problems += etl.check_curation(con, docs_path, manifest)
                run.problems += etl.check_stream(con, inp, out)
                run.problems += etl.check_dashboard(con, daily_payload, out)
            finally:
                con.close()
            t["sinks"] = [etl.dir_bytes_files(p) for p in (out.daily, out.csv, out.csv + "_kpis")]
            t["curation_bytes"] = etl.dir_bytes_files(out.curation)[0]
        return t

    trips = []
    try:
        t_warm = harness.now()
        trip(-1, warm_inputs, warm_shape.gets, check=False)
        setup_s = harness.now() - t_setup
        parts["warm_trip"] = round(harness.now() - t_warm, 3)

        n_trips = 1 if run.trace else passes_for(
            run.seconds, design_of(run.workload)["nominal_trip_s"], 1)
        for _ in range(n_trips):
            t0 = harness.now()
            run.attempted += 1
            problems_before = len(run.problems)
            try:
                t = trip(len(trips), inputs, shape.gets, check=True)
            except Exception as exc:  # noqa: BLE001 - a failing op is counted
                run.failed += 1
                run.problems.append(f"trip: {type(exc).__name__}: {exc}"[:300])
                break
            # the trip's wall is its five steps, without the output checks
            t["wall"] = sum(t[k] for k in ("batch", "curation", "stream", "refresh", "gets"))
            run.spans.add(f"trip{len(trips)}", t0, t0 + t["wall"], parent=None)
            if len(run.problems) > problems_before or t["errors"]:
                run.failed += 1
            trips.append(t)
        peak = harness.peak_rss_mb(spark)
    finally:
        if server is not None:
            server.stop()
        harness.stop_spark(spark)
    if not trips:
        return {}

    # the workload's ops are the stream's micro-batches: a dashboard
    # user waits on them, and unlike the millisecond GETs they are long
    # enough to time steadily on a shared host
    batches = [x for t in trips for x in trigger_s(t["progress"])]
    pct, op_tail, n = tail(batches)
    run.info["trips"] = len(trips)
    run.info["op_tail"] = {"percentile": round(pct, 2), "n": n}
    run.info["step_s"] = {k: round(median([t[k] for t in trips]), 4)
                          for k in ("batch", "curation", "stream", "refresh")}
    if run.trace:
        t = trips[0]
        stats = measure.read_event_log(_event_log(run.event_dir))
        L = run.layer
        L["trace.run_s"] = t["wall"]
        # the trip's own groups plus the stream's, which Spark's stream
        # thread sets to the query's run id
        ex = measure.sum_groups(stats, "t0:")
        ex.add(stats.get(t["stream_group"], measure.GroupStats()))
        _execute_layer(L, ex, t["batch"] + t["curation"] + t["stream"] + t["refresh"])
        batch = measure.sum_groups(stats, "t0:batch")
        cur = measure.sum_groups(stats, "t0:curation")
        L["pipeline.batch_s"] = t["batch"]
        L["pipeline.jobs"] = batch.jobs
        L["conform.rows_in"] = inputs.rows
        L["conform.invalid_dates"] = t["metrics"].get("invalid_dates", 0)
        L["conform.null_amounts"] = t["metrics"].get("null_amounts", 0)
        L["sinks.bytes_written"] = sum(b for b, _ in t["sinks"])
        L["sinks.files_written"] = sum(f for _, f in t["sinks"])
        L["curation.s"] = t["curation"]
        L["curation.jobs"] = cur.jobs
        L["curation.checkpoint_jobs"] = cur.classes["checkpoint"]
        L["curation.bytes_written"] = t["curation_bytes"]
        _stream_layer(L, t["progress"], t["stream"])
        L["serving.refresh_s"] = t["refresh"]
        L["serving.daily_payload_s"] = t["daily_payload_s"]
        L["serving.stream_payload_s"] = t["stream_payload_s"]
        L["serving.jobs"] = measure.sum_groups(stats, "t0:refresh").jobs
        L["serving.payload_bytes"] = t["payload_bytes"]
        L["http_serving.get_p50_ms"] = median(t["lat"]) * 1000
        L["http_serving.get_tail_ms"] = tail(t["lat"])[1] * 1000
        L["http_serving.errors"] = t["errors"]
        return {}
    return {
        "setup_s": setup_s,
        "run_s": median([t["wall"] for t in trips]),
        "op_p50_s": median(batches),
        "op_tail_s": op_tail,
        "peak_rss_mb": peak,
    }


def trigger_s(progress: list) -> list[float]:
    """Wall of every micro-batch in the stream's progress reports."""
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]


def _stream_layer(L: dict, progress: list, stream_s: float) -> None:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    rows = sum(p["numInputRows"] for p in progress)
    trig = trigger_s(progress)
    L["streaming.rows_per_s"] = rows / stream_s if stream_s else 0.0
    L["streaming.triggers"] = len(progress)
    L["streaming.input_rows"] = rows
    L["streaming.trigger_p50_ms"] = median(trig) * 1000
    L["streaming.trigger_tail_ms"] = tail(trig)[1] * 1000
    L["streaming.add_batch_p50_ms"] = median([dur(p, "addBatch") for p in data]) if data else 0
    L["streaming.wal_commit_p50_ms"] = median([dur(p, "walCommit") for p in data]) if data else 0
    ops = [op for p in progress[-1:] for op in p.get("stateOperators", [])]
    L["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
    L["streaming.state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in ops)
    L["streaming.late_rows_dropped"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for p in progress
        for op in p.get("stateOperators", [])
    )


# -- entry point ---------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        harness.import_engine()
    except harness.EngineMissing as exc:
        log(f"perfbench: {exc}")
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "etl-roundtrip":
            values = run_etl(run)
        else:
            values = run_queries(run)
    finally:
        os.makedirs(harness.OUT_ROOT, exist_ok=True)
        run.spans.dump(os.path.join(
            harness.OUT_ROOT, f"spans-{args.workload}-s{args.seed}-t{args.trace}.jsonl"))
        shutil.rmtree(run.work, ignore_errors=True)
    if run.attempted < 1:
        log("perfbench: no op was attempted; " + "; ".join(run.problems))
        return 1
    for problem in run.problems:
        log(f"perfbench: {problem}")
    if not run.trace and not values:
        log("perfbench: no op completed; " + "; ".join(run.problems))
        return 1
    units = PER_LAYER if run.trace else END_TO_END
    source = run.layer if run.trace else values
    metrics = {k: {"value": source[k], "unit": u} for k, u in units.items()}
    run.info["fail_frac"] = measure.fail_frac(run.failed, run.attempted)
    print(json.dumps({"info": run.info}))
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
