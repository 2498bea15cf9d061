"""Streaming semantics tests (SURVEY.md §5 item 4): file-source stream,
availableNow trigger, watermark/append finalization (T3), late-event drop.

Event-time design: windows are 1h sliding every 15m with a 15m watermark.
* batch 1: two product-A events at 10:00/10:10 (same 15-min bucket → the
  same four windows), plus a flush event (B) at 13:00 → watermark 12:45,
  so all four A-windows (ends 10:15..11:00) finalize.
* batch 2 (separate file, later mtime, maxFilesPerTrigger=1): a flush
  event (D) at 14:00 → watermark 13:45 → B's windows ending ≤13:45
  (3 of 4) finalize; D itself never finalizes.
* batch 3: a LATE product-C event at 09:00, far behind the committed
  watermark → dropped (numRowsDroppedByWatermark); C never appears.

Note Spark's watermark contract is one-sided: rows within the delay are
guaranteed kept; dropping is *guaranteed only for rows arriving in a
batch after the watermark passed them* — which is why the late event
gets its own batch here (same contract as the reference's Spark 3.5).
"""

from __future__ import annotations

import datetime
import json
import os
import time

import pytest

from pyspark.sql import functions as F

from data_pipeline_example_spark.streaming import job


def _write_events(path: str, events: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.utime(path, (mtime, mtime))


@pytest.fixture(scope="module")
def stream_output(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ckpt = base / "in", base / "out", base / "ckpt"
    in_dir.mkdir()
    now = time.time()
    _write_events(
        str(in_dir / "batch1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "A", "event_time": "2025-01-01 10:10:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 13:00:00", "total_price": "5.0"},
        ],
        now - 60,
    )
    _write_events(
        str(in_dir / "batch2.json"),
        [{"product": "D", "event_time": "2025-01-01 14:00:00", "total_price": "2.0"}],
        now - 30,
    )
    _write_events(
        str(in_dir / "batch3.json"),
        [{"product": "C", "event_time": "2025-01-01 09:00:00", "total_price": "1.0"}],
        now,
    )
    raw = job.read_stream(
        spark, "json", path=str(in_dir), max_files_per_trigger=1
    )
    agg = job.build_aggregations(job.transform_orders(raw))
    q = job.write_stream(agg, str(out_dir), str(ckpt), available_now=True)
    q.awaitTermination(120)
    return spark.read.parquet(str(out_dir))


def test_append_mode_emits_only_finalized_windows(stream_output):
    products = {r["product"] for r in stream_output.select("product").collect()}
    # A finalized; B partially; C dropped (late); D unfinalized
    assert "A" in products
    assert "C" not in products
    assert "D" not in products


def test_window_contents_and_revenue(stream_output):
    rows = {
        (r["product"], r["window_start"], r["window_end"]): r["revenue"]
        for r in stream_output.collect()
    }
    d = datetime.datetime
    # both A events fall in all four windows covering 10:00-10:15
    for start_min in (15, 30, 45, 0):
        hour = 9 if start_min else 10
        ws = d(2025, 1, 1, hour, start_min)
        we = ws + datetime.timedelta(hours=1)
        assert rows[("A", ws, we)] == 20.0, (ws, rows)


def test_late_flush_partial_emission(stream_output):
    # B's windows end 13:15/13:30/13:45/14:00; watermark reached 13:45 →
    # exactly the first three emitted
    b_rows = sorted(
        r["window_end"] for r in stream_output.collect() if r["product"] == "B"
    )
    d = datetime.datetime
    assert b_rows == [d(2025, 1, 1, 13, 15), d(2025, 1, 1, 13, 30), d(2025, 1, 1, 13, 45)]


def test_event_schema_tolerates_unknown_and_missing_keys(spark, tmp_path):
    # S4: unknown JSON keys dropped, missing keys null → quantity×unit_price path
    in_dir = tmp_path / "in2"
    in_dir.mkdir()
    _write_events(
        str(in_dir / "e.json"),
        [
            {
                "item": "X",
                "event_time": "2025-01-01T08:00:00",
                "quantity": "3",
                "unit_price": "2.5",
                "amount": "999",  # NOT in EVENT_SCHEMA → dropped
                "store_city": "nowhere",  # NOT in schema → dropped
            },
            {
                # no event_time value: the fixed schema always HAS the
                # event_time column, and the cleanse reads only the first
                # present candidate — so order_time is ignored and the
                # row is dropped (streaming_sales_aggregator.py:216-221,
                # 263; the producer normally injects event_time, P14)
                "item": "Y",
                "order_time": "2025-01-01T09:00:00",
                "quantity": "1",
                "unit_price": "1.0",
            },
        ],
        time.time(),
    )
    raw = spark.read.schema(job.EVENT_SCHEMA).json(str(in_dir))
    out = job.transform_orders(raw)
    rows = out.collect()
    assert len(rows) == 1  # Y dropped (no event_time)
    # the fixed schema always HAS a `product` column, so the first-
    # present rule never reaches `item` in streaming — product is null
    # here, exactly as in the reference (the item synonym is live only
    # for schemas that genuinely lack a product column, e.g. batch CSVs)
    assert rows[0]["product"] is None
    assert rows[0]["line_amount"] == 7.5  # 3 × 2.5, amount key ignored
    assert "store_city" not in out.columns


def test_streaming_product_not_backfilled(spark, tmp_path):
    # P11 UNKNOWN backfill is batch-only: a null product stays null in
    # the stream (streaming_sales_aggregator.py:208-210)
    in_dir = tmp_path / "in3"
    in_dir.mkdir()
    _write_events(
        str(in_dir / "e.json"),
        [{"event_time": "2025-01-01T08:00:00", "total_price": "4.0"}],
        time.time(),
    )
    raw = spark.read.schema(job.EVENT_SCHEMA).json(str(in_dir))
    row = job.transform_orders(raw).collect()[0]
    assert row["product"] is None
    assert row["line_amount"] == 4.0


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    _write_events(
        str(in_dir / "b1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 10:05:00", "total_price": "5.0"},
        ],
        time.time(),
    )
    raw = job.read_stream(spark, "json", path=str(in_dir))
    deduped = job.dedup_stream(job.transform_orders(raw))
    q = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(out_dir))
    assert out.count() == 2  # duplicate (A, 10:00) removed
    assert {r["product"] for r in out.collect()} == {"A", "B"}


def test_session_aggregations_merge_and_split(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    _write_events(
        str(in_dir / "b1.json"),
        [
            # two events 10 min apart → one session; a third 40 min later → new session
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "1.0"},
            {"product": "A", "event_time": "2025-01-01 10:10:00", "total_price": "2.0"},
            {"product": "A", "event_time": "2025-01-01 10:50:00", "total_price": "4.0"},
            # flush event far in the future to finalize everything above
            {"product": "Z", "event_time": "2025-01-01 23:00:00", "total_price": "0.5"},
        ],
        time.time(),
    )
    raw = job.read_stream(spark, "json", path=str(in_dir))
    agg = job.session_aggregations(job.transform_orders(raw))
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sessions = {
        (r["session_start"].strftime("%H:%M"), r["session_end"].strftime("%H:%M")): r["revenue"]
        for r in spark.read.parquet(str(out_dir)).filter(F.col("product") == "A").collect()
    }
    assert sessions == {("10:00", "10:40"): 3.0, ("10:50", "11:20"): 4.0}


def test_running_product_totals_accumulate_across_batches(spark, tmp_path):
    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    now = time.time()
    _write_events(
        str(in_dir / "b1.json"),
        [{"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"}],
        now - 30,
    )
    _write_events(
        str(in_dir / "b2.json"),
        [{"product": "A", "event_time": "2025-01-01 11:00:00", "total_price": "5.0"}],
        now,
    )
    raw = job.read_stream(spark, "json", path=str(in_dir), max_files_per_trigger=1)
    totals = job.running_product_totals(job.transform_orders(raw))
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM running_totals WHERE product = 'A' ORDER BY total"
    ).collect()
    # batch 1 emits total=10, batch 2 emits cumulative total=15
    assert [(r["total"], r["batch_rows"]) for r in rows] == [(10.0, 1), (15.0, 1)]


def test_enrich_stream_static_broadcast(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    _write_events(
        str(in_dir / "b1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "Z", "event_time": "2025-01-01 10:01:00", "total_price": "1.0"},
        ],
        time.time(),
    )
    dim = spark.createDataFrame([("A", "beverages")], ["product", "category"])
    raw = job.read_stream(spark, "json", path=str(in_dir))
    enriched = job.enrich_stream(job.transform_orders(raw), dim)
    q = (
        enriched.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["product"]: r["category"] for r in spark.read.parquet(str(out_dir)).collect()}
    assert rows == {"A": "beverages", "Z": None}  # left join keeps unmatched


def test_stream_stream_interval_join(spark, tmp_path):
    o_dir, r_dir = tmp_path / "orders", tmp_path / "refunds"
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    o_dir.mkdir(), r_dir.mkdir()
    _write_events(
        str(o_dir / "o.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 10:00:00", "total_price": "7.0"},
        ],
        time.time(),
    )
    _write_events(
        str(r_dir / "r.json"),
        [
            # within 1h of A's order → joins
            {"product": "A", "event_time": "2025-01-01 10:30:00", "total_price": "4.0"},
            # 2h after B's order → outside the horizon, no match
            {"product": "B", "event_time": "2025-01-01 12:00:00", "total_price": "1.0"},
        ],
        time.time(),
    )
    orders = job.transform_orders(job.read_stream(spark, "json", path=str(o_dir)))
    refunds = job.transform_orders(job.read_stream(spark, "json", path=str(r_dir)))
    joined = job.join_orders_refunds(orders, refunds)
    q = (
        joined.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out_dir)).collect()
    assert len(rows) == 1
    assert rows[0]["product"] == "A"
    assert rows[0]["refund_amount"] == 4.0


def test_stream_upsert_sink_merges_batches(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    # batch 1: two products on one day
    _write_events(
        str(in_dir / "b1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 11:00:00", "total_price": "5.0"},
        ],
        time.time() - 20,
    )
    # batch 2: corrects A's price and adds a second day
    _write_events(
        str(in_dir / "b2.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "99.0"},
            {"product": "C", "event_time": "2025-01-02 09:00:00", "total_price": "7.0"},
        ],
        time.time() - 10,
    )
    raw = job.read_stream(spark, "json", path=str(in_dir), max_files_per_trigger=1)
    conformed = job.transform_orders(raw)
    q = job.write_stream_upsert(
        conformed,
        str(out_dir),
        str(ckpt),
        key_cols=["product", "order_ts"],
        partition_col="order_date",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(out_dir))
    got = {r["product"]: r["line_amount"] for r in out.collect()}
    assert got == {"A": 99.0, "B": 5.0, "C": 7.0}  # A replaced, not duplicated


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """T5 — true stop-and-restart recovery: run a checkpointed query to
    completion, STOP it, append new input, then restart the SAME query
    (same plan, same checkpoint). The restarted query must resume from
    committed offsets (batch-1 windows are NOT re-emitted — exactly-once
    across the restart), must carry the watermark forward from
    checkpointed state (the new flush event finalizes the pre-restart
    product's windows), and the checkpoint's offset/commit logs must
    advance."""
    in_dir, out, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = time.time()
    _write_events(
        str(in_dir / "b1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "A", "event_time": "2025-01-01 10:10:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 13:00:00", "total_price": "5.0"},
        ],
        now - 60,
    )

    def run_once():
        raw = job.read_stream(
            spark, "json", path=str(in_dir), max_files_per_trigger=1
        )
        agg = job.build_aggregations(job.transform_orders(raw))
        q = job.write_stream(agg, out, ckpt, available_now=True)
        q.awaitTermination(120)

    run_once()  # run 1: watermark 12:45 → all four A-windows finalize
    first = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert len(first) == 4 and all(r[0] == "A" for r in first)
    n_commits_1 = len(
        [f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")]
    )

    # the query is STOPPED (availableNow drained). Append batch 2 and
    # restart the same query from the checkpoint.
    _write_events(
        str(in_dir / "b2.json"),
        [{"product": "D", "event_time": "2025-01-01 14:00:00", "total_price": "2.0"}],
        now,
    )
    run_once()  # run 2: resumes offsets, watermark 12:45 → 13:45

    rows = [tuple(r) for r in spark.read.parquet(out).collect()]
    # exactly-once: the four A-windows appear exactly once, never twice
    assert sorted(r for r in rows if r[0] == "A") == first
    assert len(rows) == len(set(rows))
    # recovered watermark finalized B's windows ending ≤ 13:45 (3 of 4)
    b_rows = [r for r in rows if r[0] == "B"]
    assert len(b_rows) == 3
    assert all(r[3].isoformat() <= "2025-01-01T13:45:00" for r in b_rows)
    # D (14:00) is beyond the new watermark → not finalized
    assert not [r for r in rows if r[0] == "D"]
    n_commits_2 = len(
        [f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")]
    )
    assert n_commits_2 > n_commits_1


def test_running_totals_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState restart recovery for running_product_totals:
    run to completion, STOP, append input, restart from the same
    checkpoint. The restarted query must resume the per-product running
    total from the recovered state store (emit 15.0, not 5.0) and must
    not re-emit batch-1 output."""
    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = time.time()

    def run_once():
        raw = job.read_stream(spark, "json", path=str(in_dir), max_files_per_trigger=1)
        totals = job.running_product_totals(job.transform_orders(raw))
        q = (
            totals.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_events(
        str(in_dir / "b1.json"),
        [{"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"}],
        now - 30,
    )
    run_once()
    assert [
        (r["total"], r["batch_rows"]) for r in spark.read.parquet(out_dir).collect()
    ] == [(10.0, 1)]

    _write_events(
        str(in_dir / "b2.json"),
        [{"product": "A", "event_time": "2025-01-01 11:00:00", "total_price": "5.0"}],
        now,
    )
    run_once()  # restart: recovered state total=10 → emits 15, once
    rows = sorted(
        (r["total"], r["batch_rows"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert rows == [(10.0, 1), (15.0, 1)]


def test_attribution_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """Streaming last-touch attribution (job.attribution_stream) pinned
    to its batch oracle anchor (asof.attribution_last_touch) across a
    checkpoint stop/restart:

    - batch 1: user 7 click→purchase (attributed), user 8 purchase with
      no prior touch (unattributed), a trailing email touch for user 7
      that must SURVIVE the restart as state;
    - batch 2 (after restart): user 7's purchase credits the RECOVERED
      email touch; a later user-7 purchase beyond lookback_s goes
      unattributed; user 8 gets a same-batch touch→purchase including
      the same-timestamp tie rule (two touches at the purchase's exact
      ts — the HIGHEST touch event_id wins, <= visibility);
    - a NULL-user purchase emits unattributed;
    - exactly-once: batch-1 rows are not re-emitted after the restart;
    - channel rollup of the stream's per-purchase output equals the
      batch operator run over the SAME events (n_purchases + revenue).
    """
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators.asof import attribution_last_touch
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()
    LOOKBACK = 1000  # seconds

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "event_id long, ts string, user_id long, event_type string, value double"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.attribution_stream(raw, lookback_s=LOOKBACK)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    T = "2024-01-01 00:{:02d}:{:02d}"
    b1 = [
        {"event_id": 1, "ts": T.format(0, 0), "user_id": 7, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": T.format(5, 0), "user_id": 7, "event_type": "purchase", "value": 10.0},
        {"event_id": 3, "ts": T.format(2, 0), "user_id": 8, "event_type": "purchase", "value": 3.5},
        {"event_id": 4, "ts": T.format(8, 0), "user_id": 7, "event_type": "email", "value": 1.0},
    ]
    write("b1.json", b1, now - 30)
    run_once()
    first = {
        r["purchase_id"]: (r["channel"], r["cents"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # click at 00:00 is 300s before the 00:05 purchase (within 1000s)
    assert first == {2: ("click", 1000), 3: ("unattributed", 350)}

    b2 = [
        # user 7 purchase at 00:10 — email touch at 00:08 recovered from
        # the CHECKPOINTED state (120s <= lookback)
        {"event_id": 5, "ts": T.format(10, 0), "user_id": 7, "event_type": "purchase", "value": 5.5},
        # user 7 purchase at 00:30 — 1320s since the email touch > 1000s
        {"event_id": 6, "ts": T.format(30, 0), "user_id": 7, "event_type": "purchase", "value": 2.0},
        # user 8: two touches at the purchase's EXACT timestamp — the
        # higher touch event_id (8) wins under the (ts, is_purchase,
        # event_id) order, and same-ts touches ARE visible
        {"event_id": 7, "ts": T.format(12, 0), "user_id": 8, "event_type": "ad", "value": 1.0},
        {"event_id": 8, "ts": T.format(12, 0), "user_id": 8, "event_type": "referral", "value": 1.0},
        {"event_id": 9, "ts": T.format(12, 0), "user_id": 8, "event_type": "purchase", "value": 7.25},
        # NULL-user purchase: per-row unique key, never attributed
        {"event_id": 10, "ts": T.format(13, 0), "user_id": None, "event_type": "purchase", "value": 4.0},
    ]
    write("b2.json", b2, now)
    run_once()  # restart from the same checkpoint
    rows = {
        r["purchase_id"]: (r["channel"], r["cents"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert rows == {
        2: ("click", 1000),
        3: ("unattributed", 350),
        5: ("email", 550),
        6: ("unattributed", 200),
        9: ("referral", 725),
        10: ("unattributed", 400),
    }
    # exactly-once across the restart: 6 rows total, no re-emission
    assert spark.read.parquet(out_dir).count() == 6

    # channel rollup == the batch operator over the same events
    static = spark.createDataFrame(
        [
            (
                r["event_id"],
                r["ts"],
                r["user_id"],
                r["event_type"],
                r["value"],
            )
            for r in b1 + b2
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) ts", "user_id", "event_type", "value"
    )
    batch = {
        r["channel"]: (r["n_purchases"], r["revenue"])
        for r in attribution_last_touch(static, lookback_s=LOOKBACK).collect()
    }
    stream_rollup = {}
    for pid, (ch, cents) in rows.items():
        n, c = stream_rollup.get(ch, (0, 0))
        stream_rollup[ch] = (n + 1, c + cents)
    assert batch == {
        ch: (n, round(c / 100.0, 2)) for ch, (n, c) in stream_rollup.items()
    }


def test_debounce_stream_matches_batch_across_restart(spark, tmp_path):
    """Streaming debounce (job.debounce_stream) pinned to the batch
    oracle anchor (users.event_debounce): chain-collapse semantics
    (predecessor counts even when it was itself dropped), per-type
    independence, NULL users never dropped, and the last-event-second
    state must survive a checkpoint restart (batch-2's first event
    debounces against batch-1's last). Rollup equals the batch op."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators.users import event_debounce
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "event_id long, ts string, user_id long, event_type string"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.debounce_stream(raw, gap_s=60)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 7, "event_type": "click"},
        # 30s after #1 -> dropped; still advances the chain
        {"event_id": 2, "ts": "2024-01-01 00:00:30", "user_id": 7, "event_type": "click"},
        # 45s after #2 (but 75s after #1) -> dropped under chain collapse
        {"event_id": 3, "ts": "2024-01-01 00:01:15", "user_id": 7, "event_type": "click"},
        # other type: independent chain -> kept
        {"event_id": 4, "ts": "2024-01-01 00:00:10", "user_id": 7, "event_type": "view"},
        # NULL user -> never dropped even 1s apart
        {"event_id": 5, "ts": "2024-01-01 00:00:00", "user_id": None, "event_type": "click"},
        {"event_id": 6, "ts": "2024-01-01 00:00:01", "user_id": None, "event_type": "click"},
    ]
    write("b1.json", b1, now - 30)
    run_once()

    b2 = [
        # 20s after batch-1's last click (#3 at 00:01:15) — the RECOVERED
        # state must drop it
        {"event_id": 7, "ts": "2024-01-01 00:01:35", "user_id": 7, "event_type": "click"},
        # 5 minutes later -> kept
        {"event_id": 8, "ts": "2024-01-01 00:06:35", "user_id": 7, "event_type": "click"},
    ]
    write("b2.json", b2, now)
    run_once()  # restart from the same checkpoint

    rows = {r["event_id"]: r["kept"] for r in spark.read.parquet(out_dir).collect()}
    assert rows == {1: 1, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 0, 8: 1}

    # per-type rollup == the batch operator over the same events
    static = spark.createDataFrame(
        [
            (r["event_id"], r["ts"], r["user_id"], r["event_type"])
            for r in b1 + b2
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id", "event_type")
    batch = {
        r["event_type"]: (r["n_events"], r["n_dropped"])
        for r in event_debounce(static, gap_s=60).collect()
    }
    stream_rollup: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        n, d = stream_rollup.get(r["event_type"], (0, 0))
        stream_rollup[r["event_type"]] = (n + 1, d + (1 - r["kept"]))
    assert batch == stream_rollup


def test_streaks_stream_matches_batch_across_restart(spark, tmp_path):
    """Streaming revenue streaks (job.streaks_stream) pinned to the
    batch oracle anchor (retail.revenue_streaks): same-day accumulation
    must refresh the best-run revenue (the tie-comparator path), a
    day+1 arrival after the restart extends the CHECKPOINTED run, a
    gap opens a second streak, and the final per-product snapshot
    equals the batch operator over the same events."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators.retail import revenue_streaks
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "product string, order_date string, amount double"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.streaks_stream(raw)
        q = (
            out.writeStream.foreachBatch(
                # stamp the micro-batch epoch: equal-active_days snapshots
                # (same-day revenue refresh) are otherwise indistinguishable
                # and parquet file order is not a tiebreak
                lambda df, eid: df.withColumn("epoch", F.lit(eid))
                .write.mode("append")
                .parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        {"product": "A", "order_date": "2024-01-01", "amount": 10.0},
        {"product": "A", "order_date": "2024-01-02", "amount": 5.0},
        {"product": "B", "order_date": "2024-01-05", "amount": 3.0},
    ]
    write("b1.json", b1, now - 30)
    run_once()
    snap1 = {r["product"]: r for r in spark.read.parquet(out_dir).collect()}
    a1 = snap1["A"]
    assert (a1["active_days"], a1["n_streaks"], a1["longest_streak"]) == (2, 1, 2)
    assert a1["streak_revenue"] == 15.0

    b2 = [
        # same day as the checkpointed run's last day: cents accumulate,
        # length unchanged — the stale-best-revenue regression case
        {"product": "A", "order_date": "2024-01-02", "amount": 2.5},
        # day+1: extends the RECOVERED 2-day run to 3
        {"product": "A", "order_date": "2024-01-03", "amount": 1.0},
        # gap: second streak opens
        {"product": "A", "order_date": "2024-01-07", "amount": 9.99},
        {"product": "B", "order_date": "2024-01-05", "amount": 4.0},
    ]
    write("b2.json", b2, now)
    run_once()  # restart from the same checkpoint

    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:  # snapshots are monotone in (epoch) per product
        if r["product"] not in latest or r["epoch"] > latest[r["product"]]["epoch"]:
            latest[r["product"]] = r

    static = spark.createDataFrame(
        [(r["product"], r["order_date"], r["amount"]) for r in b1 + b2],
        "product string, order_date string, amount double",
    ).selectExpr("product", "cast(order_date as date) order_date", "amount")
    batch = {r["product"]: r for r in revenue_streaks(static).collect()}
    for p in ("A", "B"):
        got, want = latest[p], batch[p]
        for c in ("active_days", "n_streaks", "longest_streak",
                  "streak_start", "streak_end", "streak_revenue"):
            assert got[c] == want[c], (p, c, got[c], want[c])


def test_funnel_stream_matches_batch_across_restart(spark, tmp_path):
    """Streaming ordered funnel (job.funnel_stream) pinned to the batch
    anchor (users.event_funnel): out-of-order stage events don't count
    (a view BEFORE signup), stage completion must use the recovered
    prior-stage timestamp after a checkpoint restart, and the final
    depth snapshot rolls up to the batch op's stage counts."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators.users import event_funnel
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "event_id long, ts string, user_id long, event_type string"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.funnel_stream(raw)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        # user 1: view BEFORE signup must NOT count as stage 2
        {"event_id": 1, "ts": "2024-01-01 00:00:05", "user_id": 1, "event_type": "view"},
        {"event_id": 2, "ts": "2024-01-01 00:00:10", "user_id": 1, "event_type": "signup"},
        # user 2 completes signup+view in batch 1
        {"event_id": 3, "ts": "2024-01-01 00:00:00", "user_id": 2, "event_type": "signup"},
        {"event_id": 4, "ts": "2024-01-01 00:00:01", "user_id": 2, "event_type": "view"},
    ]
    write("b1.json", b1, now - 30)
    run_once()
    snap = {r["user_id"]: r["depth"] for r in spark.read.parquet(out_dir).collect()}
    assert snap == {1: 1, 2: 2}

    b2 = [
        # user 1's view AFTER the recovered signup ts -> stage 2
        {"event_id": 5, "ts": "2024-01-01 00:00:20", "user_id": 1, "event_type": "view"},
        # user 2: click then purchase, full funnel off recovered state
        {"event_id": 6, "ts": "2024-01-01 00:00:30", "user_id": 2, "event_type": "click"},
        {"event_id": 7, "ts": "2024-01-01 00:00:31", "user_id": 2, "event_type": "purchase"},
        # user 3: purchase with no funnel prefix -> depth 0
        {"event_id": 8, "ts": "2024-01-01 00:00:40", "user_id": 3, "event_type": "purchase"},
    ]
    write("b2.json", b2, now)
    run_once()  # restart from the same checkpoint

    latest: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        cur = latest.get(r["user_id"], -1)
        latest[r["user_id"]] = max(cur, r["depth"])
    assert latest == {1: 2, 2: 4, 3: 0}

    static = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"]) for r in b1 + b2],
        "event_id long, ts string, user_id long, event_type string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id", "event_type")
    batch = {r["stage_idx"]: r["users"] for r in event_funnel(static).collect()}
    stream_counts = {
        i: sum(1 for d in latest.values() if d > i) for i in range(4)
    }
    assert batch == stream_counts


def test_ivm_daily_revenue_stream_matches_batch_across_restart(spark, tmp_path):
    """Streaming IVM of the flagship rollup (job.write_stream_ivm_daily_
    revenue) pinned to both anchors: after a checkpoint restart with
    late rows for an EXISTING (day, product) cell, the re-aggregated
    partials table equals the direct batch GROUP BY in integer cents —
    and a replayed epoch (foreachBatch at-least-once) overwrites its
    own partition instead of double-counting."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "product string, order_date string, amount double"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
            .selectExpr("product", "cast(order_date as date) order_date", "amount")
        )
        q = job.write_stream_ivm_daily_revenue(raw, out_dir, ckpt)
        q.awaitTermination(120)

    b1 = [
        {"product": "A", "order_date": "2024-01-01", "amount": 10.10},
        {"product": "A", "order_date": "2024-01-01", "amount": 0.05},
        {"product": "B", "order_date": "2024-01-01", "amount": 3.00},
    ]
    b2 = [
        {"product": "A", "order_date": "2024-01-02", "amount": 7.77},
    ]
    write("b1.json", b1, now - 30)
    write("b2.json", b2, now - 20)
    run_once()  # two epochs (maxFilesPerTrigger=1)

    b3 = [
        # late row for an ALREADY-MAINTAINED cell: the merge must add
        # cents partials, not replace the day
        {"product": "A", "order_date": "2024-01-01", "amount": 1.01},
        {"product": "C", "order_date": "2024-01-02", "amount": 0.01},
    ]
    write("b3.json", b3, now)
    run_once()  # restart from the same checkpoint

    def served():
        return {
            (str(r["order_date"]), r["product"]): (r["n_rows"], r["total_cents"])
            for r in job.read_ivm_daily_revenue(spark, out_dir).collect()
        }

    want = {
        ("2024-01-01", "A"): (3, 1116),  # 1010 + 5 + 101
        ("2024-01-01", "B"): (1, 300),
        ("2024-01-02", "A"): (1, 777),
        ("2024-01-02", "C"): (1, 1),
    }
    assert served() == want

    # replay idempotence: re-deliver epoch 0's batch through the same
    # partial writer — its partition is OVERWRITTEN, totals unchanged
    replay = spark.createDataFrame(
        [(r["product"], r["order_date"], r["amount"]) for r in b1],
        "product string, order_date string, amount double",
    ).selectExpr("product", "cast(order_date as date) order_date", "amount")
    job._write_ivm_epoch_partials(replay, 0, out_dir)
    assert served() == want

    # --- compaction: fold epochs < max into one base partition -----
    def epochs_on_disk():
        return sorted(
            r["epoch"]
            for r in spark.read.parquet(out_dir).select("epoch").distinct().collect()
        )

    before = epochs_on_disk()
    assert len(before) == 3  # three micro-batches landed
    stats = job.compact_ivm_partials(spark, out_dir)
    # in-flight protection: the max epoch is never compacted
    assert stats == {"epochs_compacted": 2, "base_epoch": before[0]}
    assert epochs_on_disk() == before  # partitions swapped, not deleted
    assert served() == want  # the maintained view is untouched
    # the non-base compacted epoch now holds only a zero sentinel
    sent = spark.read.parquet(out_dir).filter(F.col("epoch") == before[1])
    srow = sent.agg(
        F.sum("n_rows").alias("nr"), F.sum("total_cents").alias("tc"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (srow["nr"], srow["tc"], srow["n"]) == (0, 0, 1)

    # rerun after a SUCCESSFUL commit (the scheduler's next tick, or a
    # crash after commit): the all-zero sentinel short-circuit makes it
    # a no-op; a crash BEFORE commit leaves non-zero eligible rows, so
    # the rerun would redo the full fold — either way served() holds
    assert job.compact_ivm_partials(spark, out_dir) == {"epochs_compacted": 0}
    assert served() == want

    # a foreachBatch replay of the PROTECTED (latest) epoch after
    # compaction still overwrites its own partition — totals unchanged
    replay3 = spark.createDataFrame(
        [(r["product"], r["order_date"], r["amount"]) for r in b3],
        "product string, order_date string, amount double",
    ).selectExpr("product", "cast(order_date as date) order_date", "amount")
    job._write_ivm_epoch_partials(replay3, before[-1], out_dir)
    assert served() == want

    # nothing left to compact below the in-flight epoch → no-op
    assert job.compact_ivm_partials(spark, out_dir) == {"epochs_compacted": 0}


def test_ivm_compaction_survives_pre_commit_crash_debris(spark, tmp_path):
    """A compaction killed BEFORE job commit leaves exactly two traces:
    parquet _temporary debris and the untouched old partitions (the
    FileOutputCommitter contract — partition swaps happen at commit).
    The serving view must read through that state unchanged, and a
    rerun must complete the fold."""
    import os as _os

    from data_pipeline_example_spark.streaming import job

    out_dir = str(tmp_path / "out")

    def batch(rows):
        return spark.createDataFrame(
            rows, "product string, order_date string, amount double"
        ).selectExpr("product", "cast(order_date as date) order_date", "amount")

    job._write_ivm_epoch_partials(batch([("A", "2024-01-01", 1.00)]), 0, out_dir)
    job._write_ivm_epoch_partials(batch([("A", "2024-01-01", 2.00)]), 1, out_dir)
    job._write_ivm_epoch_partials(batch([("B", "2024-01-02", 5.00)]), 2, out_dir)

    def served():
        return {
            (str(r["order_date"]), r["product"]): (r["n_rows"], r["total_cents"])
            for r in job.read_ivm_daily_revenue(spark, out_dir).collect()
        }

    want = {("2024-01-01", "A"): (2, 300), ("2024-01-02", "B"): (1, 500)}
    assert served() == want

    # simulate the pre-commit crash state: _temporary junk alongside
    # the intact old partitions (underscore paths are invisible to the
    # parquet reader by protocol)
    debris = _os.path.join(out_dir, "_temporary", "0", "task_000")
    _os.makedirs(debris)
    with open(_os.path.join(debris, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00garbage not parquet")
    assert served() == want  # view reads through the debris

    # the crashed run's rerun completes the fold over the same state
    stats = job.compact_ivm_partials(spark, out_dir)
    assert stats == {"epochs_compacted": 2, "base_epoch": 0}
    assert served() == want


def test_ivm_overwrites_stay_dynamic_under_a_static_session(spark, tmp_path):
    """The IVM epoch writer and the compaction ask for a dynamic
    partition overwrite on the write itself: under a session whose
    ``partitionOverwriteMode`` is ``static`` (Spark's default), an
    epoch replay and a compaction replace only the partitions they
    write, every other epoch survives, and the session conf still
    reads ``static`` afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out_dir = str(tmp_path / "out")

    def batch(rows):
        return spark.createDataFrame(
            rows, "product string, order_date string, amount double"
        ).selectExpr("product", "cast(order_date as date) order_date", "amount")

    def epochs_on_disk():
        return sorted(
            r["epoch"]
            for r in spark.read.parquet(out_dir).select("epoch").distinct().collect()
        )

    def served():
        return {
            (str(r["order_date"]), r["product"]): (r["n_rows"], r["total_cents"])
            for r in job.read_ivm_daily_revenue(spark, out_dir).collect()
        }

    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        job._write_ivm_epoch_partials(batch([("A", "2024-01-01", 1.00)]), 0, out_dir)
        job._write_ivm_epoch_partials(batch([("A", "2024-01-01", 2.00)]), 1, out_dir)
        job._write_ivm_epoch_partials(batch([("B", "2024-01-02", 5.00)]), 2, out_dir)
        want = {("2024-01-01", "A"): (2, 300), ("2024-01-02", "B"): (1, 500)}
        # replay of epoch 1: its own partition is replaced, 0 and 2 stay
        job._write_ivm_epoch_partials(batch([("A", "2024-01-01", 2.00)]), 1, out_dir)
        assert epochs_on_disk() == [0, 1, 2]
        assert served() == want
        stats = job.compact_ivm_partials(spark, out_dir)
        assert stats == {"epochs_compacted": 2, "base_epoch": 0}
        assert epochs_on_disk() == [0, 1, 2]
        assert served() == want
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)


def test_hll_stream_matches_batch_twin_and_survives_restart(spark, tmp_path):
    """Bounded-state streaming HLL (job.hll_cardinality_stream) pinned
    to its batch anchor (users.user_cardinality_hll) across a
    checkpoint stop/restart: batch 1 carries users 0..59 of type 'a'
    and 0..9 of type 'b'; after a STOP the second batch adds 40..99
    for 'a' (overlap — the register max-merge must not double-count)
    and 10..19 for 'b'. The LAST emitted row per type must equal the
    batch operator's per-type row over the union of both batches, and
    state must be exactly m=64 registers regardless of user count."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators import users as users_ops
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    b1 = [{"event_type": "a", "user_id": str(i)} for i in range(60)]
    b1 += [{"event_type": "b", "user_id": str(i)} for i in range(10)]
    b2 = [{"event_type": "a", "user_id": str(i)} for i in range(40, 100)]
    b2 += [{"event_type": "b", "user_id": str(i)} for i in range(10, 20)]

    def run_once():
        raw = (
            spark.readStream.schema("event_type string, user_id string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.hll_cardinality_stream(raw)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.withColumn(
                    "eid", F.lit(int(eid))
                ).write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", b1, now - 30)
    run_once()
    write("b2.json", b2, now)
    run_once()  # restart from checkpoint: registers must be recovered

    emitted = spark.read.parquet(out_dir).collect()
    last_eid = max(r["eid"] for r in emitted)
    final = {
        r["event_type"]: (r["n_buckets_hit"], r["hll_estimate_milli"])
        for r in emitted
        if r["eid"] == last_eid
    }

    # batch anchor over the union (user_id as string — matches the
    # stream's md5(str) discipline; events schema needs the full shape)
    rows = [(i, "2024-01-01 00:00:00", u["user_id"], u["event_type"], 1.0, None)
            for i, u in enumerate(b1 + b2)]
    events = spark.createDataFrame(
        rows,
        "event_id int, ts string, user_id string, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        r["scope"]: (r["n_buckets_hit"], r["hll_estimate_milli"])
        for r in users_ops.user_cardinality_hll(events).collect()
    }
    assert final["a"] == batch["a"]
    assert final["b"] == batch["b"]
    # overlap must not inflate: type-a estimate reflects ~100 distinct,
    # nowhere near the 120 raw rows
    assert final["a"][1] < 140_000


def test_hll_stream_p_bits_matches_batch_twin(spark, tmp_path):
    """Non-default p_bits must flow through the streaming twin's bucket
    split and estimate (the r12 advice found the split hard-coded to 6
    bits: with p_bits < 6 the relational bucket exceeded m-1 and the
    stateful update raised IndexError, killing the query). One
    availableNow pass at p_bits = 4 must equal the batch anchor."""
    import json as _json

    from data_pipeline_example_spark.operators import users as users_ops
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    recs = [{"event_type": "a", "user_id": str(i)} for i in range(80)]
    with open(in_dir / "b.json", "w") as f:
        for r in recs:
            f.write(_json.dumps(r) + "\n")

    raw = (
        spark.readStream.schema("event_type string, user_id string")
        .json(str(in_dir))
    )
    out = job.hll_cardinality_stream(raw, p_bits=4)
    q = (
        out.writeStream.foreachBatch(
            lambda df, eid: df.write.mode("append").parquet(out_dir)
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["event_type"]: (r["n_buckets_hit"], r["hll_estimate_milli"])
           for r in spark.read.parquet(out_dir).collect()}
    rows = [(i, "2024-01-01 00:00:00", r["user_id"], r["event_type"], 1.0, None)
            for i, r in enumerate(recs)]
    events = spark.createDataFrame(
        rows,
        "event_id int, ts string, user_id string, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {r["scope"]: (r["n_buckets_hit"], r["hll_estimate_milli"])
             for r in users_ops.user_cardinality_hll(events, p_bits=4).collect()}
    assert got["a"] == batch["a"]
    # m = 16 registers: every bucket hit at 80 distinct users
    assert got["a"][0] <= 16


def test_hll_stream_rejects_p_bits_change_on_restore(spark, tmp_path):
    """Resuming an HLL checkpoint with a different p_bits must fail
    with a descriptive error, not IndexError (p grew) or a silent
    mis-bin (p shrank) — the state register array's length is the
    sketch precision (ADVICE r13). Two passes over the same
    checkpoint: p_bits=4 then p_bits=6 → StreamingQueryException whose
    root message names p_bits and the fresh-checkpoint fix."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    with open(in_dir / "b1.json", "w") as f:
        for i in range(20):
            f.write(_json.dumps({"event_type": "a", "user_id": str(i)}) + "\n")

    def run(p_bits: int) -> None:
        raw = (
            spark.readStream.schema("event_type string, user_id string")
            .json(str(in_dir))
        )
        q = (
            job.hll_cardinality_stream(raw, p_bits=p_bits)
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(4)  # seeds 16-register state in the checkpoint
    with open(in_dir / "b2.json", "w") as f:
        for i in range(20, 40):
            f.write(_json.dumps({"event_type": "a", "user_id": str(i)}) + "\n")
    with pytest.raises(StreamingQueryException) as exc:
        run(6)  # m=64 now; restored regs have len 16 → loud reject
    msg = str(exc.value)
    assert "p_bits" in msg and "fresh checkpoint" in msg.lower()


def test_markov_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """Streaming Markov transition pairs (job.markov_transition_stream)
    pinned to the batch anchor (users.event_markov_transitions): user 1
    spans the restart boundary (view in batch 1, cart in batch 2 — the
    cross-batch transition must come from RECOVERED state), user 2's
    same-timestamp tie resolves by event_id, and the rolled-up pair
    counts equal the batch operator over the union."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.operators import users as users_ops
    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    b1 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "view"},
        # user 2: two events at the SAME ts — event_id breaks the tie
        {"event_id": 3, "ts": "2024-01-01 00:00:10", "user_id": 2, "event_type": "cart"},
        {"event_id": 2, "ts": "2024-01-01 00:00:10", "user_id": 2, "event_type": "view"},
    ]
    b2 = [
        {"event_id": 4, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "cart"},
        {"event_id": 5, "ts": "2024-01-01 00:02:00", "user_id": 1, "event_type": "buy"},
    ]

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.markov_transition_stream(raw)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", b1, now - 30)
    run_once()
    write("b2.json", b2, now)
    run_once()  # restart: user 1's 'view' state must be recovered

    pairs = sorted(
        (r["prev_event"], r["next_event"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # tie at user 2 resolves view(id 2) -> cart(id 3);
    # user 1: view -> cart (CROSS-RESTART) then cart -> buy
    assert pairs == [("cart", "buy"), ("view", "cart"), ("view", "cart")]

    # rollup equals the batch operator over the union
    rows = [
        (r["event_id"], r["ts"], r["user_id"], r["event_type"], 1.0, None)
        for r in b1 + b2
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r["prev_event"], r["next_event"]): r["n_transitions"]
        for r in users_ops.event_markov_transitions(events).collect()
    }
    from collections import Counter

    assert batch == dict(Counter(pairs))


def test_cusum_alert_stream_fires_once_and_survives_restart(spark, tmp_path):
    """Page CUSUM drift alerts (job.cusum_alert_stream): values at the
    reference level accumulate nothing; a planted level shift fires
    exactly at the deterministic crossing row, INCLUDING when the
    accumulation spans a checkpoint restart (recovered S), and the
    post-alarm reset drains the accumulator."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    # ref = 1.0, threshold = 5.0 excess. batch 1: three events at 2.0
    # -> S = 3.0 (no alert). batch 2 (after restart): three more at
    # 2.0 -> S crosses 5.0 at the SECOND one (event_id 5), resets,
    # ends at 1.0.
    b1 = [
        {"event_id": i, "ts": f"2024-01-01 00:00:0{i}", "event_type": "a", "value": 2.0}
        for i in (1, 2, 3)
    ]
    b2 = [
        {"event_id": i, "ts": f"2024-01-01 00:00:0{i}", "event_type": "a", "value": 2.0}
        for i in (4, 5, 6)
    ]

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.cusum_alert_stream(raw)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.withColumn("eid", F.lit(int(eid)))
                .write.mode("append")
                .parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", b1, now - 30)
    run_once()
    write("b2.json", b2, now)
    run_once()  # restart: S = 3_000_000 must be recovered

    rows = sorted(
        spark.read.parquet(out_dir).collect(), key=lambda r: r["eid"]
    )
    assert rows[0]["n_alerts"] == 0 and rows[0]["s_micro"] == 3_000_000
    final = rows[-1]
    # crossing at event 5 (S = 3+1+1 = 5.0), reset, then event 6 -> 1.0
    assert final["n_alerts"] == 1
    assert final["last_alert_event_id"] == 5
    assert final["s_micro"] == 1_000_000


def _spacesaving_replay(items, k):
    """Pure-Python replay of spacesaving_topk_stream's update rule."""
    summary = {}
    for it in items:
        if it in summary:
            summary[it][0] += 1
        elif len(summary) < k:
            summary[it] = [1, 0]
        else:
            victim = min(summary, key=lambda x: (summary[x][0], x))
            c = summary.pop(victim)[0]
            summary[it] = [c + 1, c]
    return sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))


def test_spacesaving_stream_guarantee_and_restart(spark, tmp_path):
    """SpaceSaving top-k (job.spacesaving_topk_stream) with k=4 over a
    skewed stream split across a checkpoint restart: the final summary
    equals the pure-Python replay of the same arrival order (summary
    state recovered across the kill), every kept item satisfies
    true <= est <= true + err, and the guaranteed-heavy item (true
    count > min counter) survives eviction pressure."""
    import json as _json
    import os as _os
    import time as _time
    from collections import Counter

    from data_pipeline_example_spark.streaming import job

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    # skewed arrivals: "hot" dominates; a tail of 6 distinct cold items
    # churns the k=4 summary
    seq1 = ["hot", "warm", "c1", "hot", "c2", "hot", "warm", "c3"]
    seq2 = ["hot", "c4", "hot", "warm", "c5", "hot", "c6", "hot"]
    b1 = [
        {"event_id": i, "ts": f"2024-01-01 00:00:{i:02d}", "event_type": "a",
         "user_id": u}
        for i, u in enumerate(seq1)
    ]
    b2 = [
        {"event_id": 100 + i, "ts": f"2024-01-01 00:01:{i:02d}", "event_type": "a",
         "user_id": u}
        for i, u in enumerate(seq2)
    ]

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, user_id string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = job.spacesaving_topk_stream(raw, k=4)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.withColumn("eid", F.lit(int(eid)))
                .write.mode("append")
                .parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", b1, now - 30)
    run_once()
    write("b2.json", b2, now)
    run_once()  # restart: the summary counters must be recovered

    rows = spark.read.parquet(out_dir).collect()
    last = max(r["eid"] for r in rows)
    final = sorted(
        ((r["item"], r["est_count"], r["err"]) for r in rows if r["eid"] == last),
        key=lambda t: (-t[1], t[0]),
    )
    want = [
        (it, v[0], v[1]) for it, v in _spacesaving_replay(seq1 + seq2, 4)
    ]
    assert final == want
    # the SpaceSaving guarantee on every kept item
    true = Counter(seq1 + seq2)
    for it, est, err in final:
        assert true[it] <= est <= true[it] + err
    # the guaranteed-heavy items survive with exact counts
    as_dict = {it: (est, err) for it, est, err in final}
    assert as_dict["hot"] == (true["hot"], 0)
    assert as_dict["warm"] == (true["warm"], 0)


def test_main_prints_one_progress_line_per_micro_batch(spark, tmp_path, capsys):
    """The CLI's await loop prints one JSON progress line per micro-batch
    (batchId, numInputRows, processedRowsPerSecond, watermark, summed
    state rows) while the availableNow JSON stream drains."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _write_events(
        str(in_dir / "batch1.json"),
        [
            {"product": "A", "event_time": "2025-01-01 10:00:00", "total_price": "10.0"},
            {"product": "B", "event_time": "2025-01-01 13:00:00", "total_price": "5.0"},
        ],
        now - 60,
    )
    _write_events(
        str(in_dir / "batch2.json"),
        [{"product": "D", "event_time": "2025-01-01 14:00:00", "total_price": "2.0"}],
        now - 30,
    )
    assert job.main([
        "--source", "json",
        "--input-path", str(in_dir),
        "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ]) == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{")
    ]
    assert lines
    assert [p["batchId"] for p in lines] == sorted({p["batchId"] for p in lines})
    assert sum(p["numInputRows"] for p in lines) == 3
    data = [p for p in lines if p["numInputRows"]]
    assert all(p["processedRowsPerSecond"] >= 0 for p in data)
    # every event lands in state (4 sliding windows each), and the
    # watermark trails the latest event by the 15-minute delay
    assert max(p["stateRowsTotal"] for p in lines) > 0
    assert lines[-1]["watermark"] == "2025-01-01T13:45:00.000Z"
