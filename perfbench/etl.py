"""The ``etl-roundtrip`` workload: generated point-of-sale inputs, the
batch → curation → stream → dashboard round trip, and DuckDB checks of
every output.

The generator belongs to the benchmark (numpy, seeded), so a change to
the engine's ``datagen`` or ``streaming.replay`` cannot change the
inputs. Sizes are set by :class:`Shape`.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
from dataclasses import dataclass

import numpy as np

from measure import close

PRODUCTS = (
    ("espresso beans", 8.5, 14.0),
    ("drip grinder", 29.0, 59.0),
    ("cold brew kit", 18.0, 32.0),
    ("ceramic mug", 6.0, 12.5),
    ("steel tumbler", 14.0, 24.0),
    ("pour-over stand", 22.0, 40.0),
    ("milk frother", 11.0, 21.0),
    ("filter papers", 3.0, 6.5),
)
STORES = (("S-001", "Springfield"), ("S-002", "Riverton"), ("S-003", "Lakeside"),
          ("S-004", "Hillcrest"))
START = dt.date(2024, 1, 1)
WATERMARK_S = 15 * 60
WINDOW_S = 60 * 60
SLIDE_S = 15 * 60
PATHS = ("/api/daily", "/api/stream", "/health")
#: share of CSV rows with an unparseable date / a blank amount
BAD_DATE = 0.005
BLANK_AMOUNT = 0.005
#: share of stream events displaced backwards inside the watermark
OUT_OF_ORDER = 0.20
#: share of stream events delivered two files late (beyond the watermark)
LATE = 0.02


@dataclass(frozen=True)
class Shape:
    days: int = 60
    rows_per_day: int = 1000
    #: the stream replays the sales of the last ``stream_days`` days
    stream_days: int = 6
    stream_files: int = 24
    gets: int = 150


@dataclass
class Inputs:
    csv_dir: str
    json_dir: str
    rows: int


def generate(seed: int, root: str, shape: Shape) -> Inputs:
    """Write ``shape.days`` day-directories of CSV (a few rows with an
    unparseable date or a blank amount) and ``shape.stream_files``
    JSON-lines micro-batch files under ``root``."""
    rng = np.random.default_rng(seed)
    n = shape.days * shape.rows_per_day
    day = np.repeat(np.arange(shape.days), shape.rows_per_day)
    seq = np.tile(np.arange(1, shape.rows_per_day + 1), shape.days)
    prod = rng.integers(0, len(PRODUCTS), n)
    lo = np.array([p[1] for p in PRODUCTS])[prod]
    hi = np.array([p[2] for p in PRODUCTS])[prod]
    disc = np.array([1.0, 1.0, 1.0, 0.9, 0.95])[rng.integers(0, 5, n)]
    unit = np.round((lo + rng.random(n) * (hi - lo)) * disc, 2)
    qty = rng.integers(1, 6, n)
    amount = np.round(unit * qty, 2)
    store = rng.integers(0, len(STORES), n)
    bad_date = rng.random(n) < BAD_DATE
    blank_amount = (rng.random(n) < BLANK_AMOUNT) & ~bad_date
    # intra-day event time, seconds since START
    sec = day * 86400 + rng.integers(0, 86400, n)

    dates = [(START + dt.timedelta(days=int(d))).isoformat() for d in range(shape.days)]
    csv_dir = os.path.join(root, "csv")
    for d in range(shape.days):
        part = os.path.join(csv_dir, f"day={dates[d]}")
        os.makedirs(part)
        idx = np.flatnonzero(day == d)
        with open(os.path.join(part, "part-00000.csv"), "w") as fh:
            fh.write("order_id,order_date,store_id,store_city,product,quantity,"
                     "unit_price,amount\n")
            tag = dates[d].replace("-", "")
            for i in idx:
                s_id, s_city = STORES[store[i]]
                fh.write(
                    f"{tag}-{seq[i]:05d},{'n/a' if bad_date[i] else dates[d]},{s_id},"
                    f"{s_city},{PRODUCTS[prod[i]][0]},{qty[i]},{unit[i]:.2f},"
                    f"{'' if blank_amount[i] else f'{amount[i]:.2f}'}\n"
                )

    # the stream replays the valid sales of the last ``stream_days`` days
    # in event-time order, split into equal files; a share of events is
    # displaced back by less than the watermark delay and a share is
    # delivered late, in a later file
    valid = np.flatnonzero(~bad_date & ~blank_amount & (day >= shape.days - shape.stream_days))
    valid = valid[np.argsort(sec[valid], kind="stable")]
    ev_sec = sec.copy()
    shift = rng.random(n) < OUT_OF_ORDER
    ev_sec[shift] -= rng.integers(1, WATERMARK_S - 60, n)[shift]
    ev_sec = np.maximum(ev_sec, 0)
    file_of = np.zeros(n, dtype=np.int64)
    file_of[valid] = np.arange(len(valid)) * shape.stream_files // len(valid)
    # two files on: a batch drops late rows against the watermark its
    # previous batch ran under, so one file late is not late enough
    late = (rng.random(n) < LATE) & (file_of < shape.stream_files - 2)
    file_of[late] += 2
    json_dir = os.path.join(root, "json")
    os.makedirs(json_dir)
    epoch = dt.datetime(START.year, START.month, START.day)
    mtime = 1_700_000_000
    for f in range(shape.stream_files):
        path = os.path.join(json_dir, f"batch-{f:03d}.json")
        with open(path, "w") as fh:
            for i in valid[file_of[valid] == f]:
                ts = (epoch + dt.timedelta(seconds=int(ev_sec[i]))).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                fh.write(json.dumps({
                    "order_id": f"{dates[day[i]].replace('-', '')}-{seq[i]:05d}",
                    "event_time": ts,
                    "product": PRODUCTS[prod[i]][0],
                    "quantity": str(qty[i]),
                    "unit_price": f"{unit[i]:.2f}",
                    "total_price": f"{amount[i]:.2f}",
                    "store": STORES[store[i]][0],
                }) + "\n")
        # the file source orders files by modification time
        os.utime(path, (mtime + f, mtime + f))
    return Inputs(csv_dir, json_dir, n)


# -- the round trip -----------------------------------------------------------


@dataclass
class Outputs:
    daily: str
    csv: str
    curation: str
    stream: str
    checkpoint: str


def outputs_under(root: str) -> Outputs:
    return Outputs(
        daily=os.path.join(root, "daily_parquet"),
        csv=os.path.join(root, "daily_csv"),
        curation=os.path.join(root, "curation"),
        stream=os.path.join(root, "stream"),
        checkpoint=os.path.join(root, "stream_ckpt"),
    )


def run_stream(spark, json_dir: str, out: Outputs):
    """Run the windowed stream over every file until availableNow ends;
    returns the progress reports and the query's run id, which is the
    job group of every job the stream runs."""
    from data_pipeline_example_spark.streaming import job

    q = job.run_pipeline(
        spark, source="json", out_path=out.stream, checkpoint=out.checkpoint,
        path=json_dir, max_files_per_trigger=1,
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return list(q.recentProgress), str(q.runId)


def http_gets(port: int, n: int) -> tuple[list[float], int, dict[str, bytes]]:
    """``n`` closed-loop GETs from one client, round-robin over
    :data:`PATHS`. Returns latencies (s), the error count (a non-200
    reply, a failed request, or a body that differs from the path's
    first) and the first body of each path."""
    import time

    lat: list[float] = []
    errors = 0
    bodies: dict[str, bytes] = {}
    for i in range(n):
        path = PATHS[i % len(PATHS)]
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
            finally:
                conn.close()
            ok = resp.status == 200
        except OSError:
            ok, body = False, b""
        lat.append(time.perf_counter() - t0)
        if not ok:
            errors += 1
        elif bodies.setdefault(path, body) != body:
            errors += 1
    return lat, errors, bodies


# -- output checks -------------------------------------------------------------


def check_batch(con, inputs: Inputs, out: Outputs) -> list[str]:
    """The daily aggregate and the KPI row against a DuckDB recomputation
    over the generated CSVs."""
    problems = []
    con.execute(
        f"""CREATE OR REPLACE VIEW sales AS
        SELECT product, try_cast(order_date AS DATE) AS order_date,
               try_cast(amount AS DOUBLE) AS amount
        FROM read_csv('{inputs.csv_dir}/*/*.csv', header=true, all_varchar=true)"""
    )
    con.execute(
        "CREATE OR REPLACE VIEW clean AS SELECT * FROM sales "
        "WHERE order_date IS NOT NULL AND amount IS NOT NULL"
    )
    want = {
        (str(d), p): a
        for d, p, a in con.execute(
            "SELECT order_date, product, round(sum(amount), 2) FROM clean GROUP BY 1, 2"
        ).fetchall()
    }
    got = {
        (str(d), p): a
        for d, p, a in con.execute(
            f"SELECT order_date, product, total_amount FROM read_parquet("
            f"'{out.daily}/*/*.parquet', hive_partitioning=true)"
        ).fetchall()
    }
    if want.keys() != got.keys():
        problems.append(f"batch: {len(got)} daily rows vs {len(want)} expected")
    else:
        bad = [k for k in want if not close(want[k], got[k])]
        if bad:
            problems.append(f"batch: {len(bad)} daily totals differ, e.g. {bad[0]}")
    total, products, rows = con.execute(
        "SELECT round(sum(amount), 2), count(DISTINCT product), count(*) FROM clean"
    ).fetchone()
    kpi = con.execute(
        f"SELECT * FROM read_csv('{out.csv}_kpis/*.csv', header=true)"
    ).fetchone()
    if kpi is None or not (close(kpi[0], total) and kpi[1] == products and kpi[2] == rows):
        problems.append(f"kpis: {kpi} vs {(total, products, rows)}")
    return problems


def expected_windows(con, inputs: Inputs) -> dict[tuple, float]:
    """Windows the final watermark closes, with revenue, replaying the
    stream's rules file by file. Batch ``k`` evicts under the watermark
    ``max(event time of files < k) - 15 min`` and drops late rows under
    the previous batch's one, ``max(event time of files < k - 1) - 15
    min``: an event adds to each of its sliding windows whose end is
    beyond the latter."""
    rows = con.execute(
        f"""SELECT filename, epoch(strptime(event_time, '%Y-%m-%d %H:%M:%S'))::BIGINT,
                   product, round(try_cast(total_price AS DOUBLE), 2)
        FROM read_json('{inputs.json_dir}/*.json', format='newline_delimited',
                       columns={{'event_time': 'VARCHAR', 'product': 'VARCHAR',
                                 'total_price': 'VARCHAR'}}, filename=true)"""
    ).fetchall()
    by_file: dict[str, list] = {}
    for fname, t, p, a in rows:
        by_file.setdefault(os.path.basename(fname), []).append((t, p, a))
    windows: dict[tuple, float] = {}
    evict = late = None
    max_seen = None
    for fname in sorted(by_file):
        for t, p, a in by_file[fname]:
            first = (t // SLIDE_S) * SLIDE_S - WINDOW_S + SLIDE_S
            for start in range(first, t + 1, SLIDE_S):
                end = start + WINDOW_S
                if late is None or end > late:
                    windows[(start, end, p)] = windows.get((start, end, p), 0.0) + a
        top = max(t for t, _, _ in by_file[fname])
        max_seen = top if max_seen is None else max(max_seen, top)
        late, evict = evict, max_seen - WATERMARK_S
    return {k: round(v, 2) for k, v in windows.items() if k[1] <= evict}


def check_stream(con, inputs: Inputs, out: Outputs) -> list[str]:
    want = expected_windows(con, inputs)
    rows = con.execute(
        f"SELECT epoch(window_start), epoch(window_end), product, revenue "
        f"FROM read_parquet('{out.stream}/*.parquet')"
    ).fetchall()
    got = {(int(s), int(e), p): r for s, e, p, r in rows}
    if len(got) != len(rows):
        return [f"stream: {len(rows) - len(got)} windows emitted twice"]
    if want.keys() != got.keys():
        return [f"stream: {len(got)} windows emitted vs {len(want)} expected "
                f"({len(got.keys() - want.keys())} extra, {len(want.keys() - got.keys())} missing)"]
    bad = [k for k in want if not close(want[k], got[k])]
    return [f"stream: {len(bad)} window revenues differ, e.g. {bad[0]}"] if bad else []


def check_curation(con, docs_path: str, manifest: list) -> list[str]:
    """Manifest totals against the ``curation_summary`` oracle."""
    from data_pipeline_example_spark.plans.oracles import ORACLES

    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    res = con.execute(ORACLES["curation_summary"])
    cols = [d[0] for d in res.description]
    want = dict(zip(cols, res.fetchone()))
    # chunks overlap, so the manifest's token sum is not the corpus's
    got = {
        "after_decontam": sum(r["n_docs"] for r in manifest),
        "n_chunks": sum(r["n_chunks"] for r in manifest),
    }
    bad = {k: (v, want[k]) for k, v in got.items() if v != want[k]}
    return [f"curation: manifest vs oracle {bad}"] if bad else []


def check_dashboard(con, payload: dict, out: Outputs) -> list[str]:
    """``/api/daily`` per-day totals against the batch output."""
    want = {
        str(d): a
        for d, a in con.execute(
            f"SELECT order_date, round(sum(total_amount), 2) FROM read_parquet("
            f"'{out.daily}/*/*.parquet', hive_partitioning=true) GROUP BY 1"
        ).fetchall()
    }
    got = {r["order_date"]: r["total_amount"] for r in payload.get("daily", [])}
    if want.keys() != got.keys():
        return [f"dashboard: {len(got)} days vs {len(want)}"]
    bad = [k for k in want if not close(want[k], got[k])]
    return [f"dashboard: {len(bad)} day totals differ"] if bad else []


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files
