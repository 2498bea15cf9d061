"""Structured Streaming job: JSON order events → watermarked sliding-window
revenue → append-only Parquet.

Rebuild of `services/streaming/streaming_sales_aggregator.py` (SURVEY.md
§2.10, §3.2) with the cleanse stage unified onto ``conform.STREAMING_SPEC``
(the reference duplicates ~60 lines between batch and streaming with subtly
different synonym orders — SURVEY.md §7.4).

Semantics preserved:
* fixed 12-nullable-string event schema (S4): unknown JSON keys dropped,
  missing keys null (`streaming_sales_aggregator.py:187-200`)
* multi-format timestamp parse chain (P4), epoch default when no
  timestamp column exists (T7), row-nullity amount preference (P9)
* 15-min watermark, 1-hour window sliding every 15 min (T1/T2),
  ``append`` output mode → only finalized windows are emitted (T3)
* parquet sink + checkpoint for exactly-once (T5/K4), processing-time
  trigger default 30 s (T4); tests use ``availableNow``.

Source abstraction: ``kafka`` in production, ``json`` (file) source for
hermetic tests — same downstream plan either way (S3, SURVEY.md §7.4).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from data_pipeline_example_spark.conform import STREAMING_SPEC, conform
from data_pipeline_example_spark.functions.materialize import (
    materialize as _materialize,
)
from data_pipeline_example_spark.functions.hashing import _hll_params, hll_stage
from data_pipeline_example_spark.operators.users import is_null_user_key, user_key

# streaming_sales_aggregator.py:187-200 — every field a nullable string
EVENT_FIELDS = (
    "order_id",
    "order_date",
    "order_time",
    "event_time",
    "timestamp",
    "product",
    "item",
    "quantity",
    "unit_price",
    "total_price",
    "customer_id",
    "store",
)
EVENT_SCHEMA = StructType([StructField(f, StringType(), True) for f in EVENT_FIELDS])


def kafka_reader_options(
    kafka_bootstrap: str = "localhost:9092",
    topic: str = "sales",
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The Kafka source contract (S3/T6), as data: exactly the options
    the reference wires (`streaming_sales_aggregator.py:307-318`) —
    subscribe + startingOffsets + failOnDataLoss=false. Split out from
    ``read_stream`` so the contract is assertable in CI without a broker
    or the spark-sql-kafka connector jar (neither exists in the sandbox;
    live-broker integration is out of CI scope by design)."""
    return {
        "kafka.bootstrap.servers": kafka_bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",  # T5 parity
    }


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A JSON-lines landing directory read as a stream with ``schema``
    applied — the one file-source reader for the order events
    (:data:`EVENT_SCHEMA`) and the curation landing zones
    (``streaming.curation`` DOC/EMB/MEDIA schemas). Unknown keys are
    dropped, missing keys read NULL; ``max_files_per_trigger`` caps the
    files per micro-batch (one file per batch orders hermetic tests)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_stream(
    spark: SparkSession,
    source: str = "kafka",
    *,
    kafka_bootstrap: str = "localhost:9092",
    topic: str = "sales",
    starting_offsets: str = "latest",
    path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S3 — build the raw stream. ``kafka`` yields the classic
    (key, value, …) frame; ``json`` reads event files from ``path`` with
    the fixed schema already applied (hermetic test path)."""
    if source == "kafka":
        reader = spark.readStream.format("kafka").options(
            **kafka_reader_options(kafka_bootstrap, topic, starting_offsets)
        )
        return reader.load()
    if source == "json":
        return read_json_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger)
    raise ValueError(f"unknown stream source {source!r}")


def decode_json(raw: DataFrame) -> DataFrame:
    """S4 — Kafka value bytes → fixed-schema struct → flat columns
    (`streaming_sales_aggregator.py:322-326`)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("event")
    ).select("event.*")


def transform_orders(df: DataFrame) -> DataFrame:
    """Cleanse stage = the shared conform operator with the streaming
    spec (synonym order, multi-format parse, epoch default, row-nullity
    amount, null→0.0, round 2) — `streaming_sales_aggregator.py:203-263`."""
    return conform(df, STREAMING_SPEC)


def build_aggregations(
    df: DataFrame,
    watermark: str = "15 minutes",
    window: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """T1+T2+A3 — watermarked sliding-window revenue per product
    (`streaming_sales_aggregator.py:266-286`). Output: product, revenue,
    window_start, window_end."""
    return (
        df.withWatermark("order_ts", watermark)
        .groupBy(F.window("order_ts", window, slide).alias("w"), F.col("product"))
        .agg(F.round(F.sum("line_amount"), 2).alias("revenue"))
        .select(
            "product",
            "revenue",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """K4 — append-mode parquet sink with checkpoint
    (`streaming_sales_aggregator.py:333-349`), triggered every 30 s
    (the reference's processing-time trigger). ``available_now=True``
    drains all pending input then stops (test/backfill mode)."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="30 seconds").start()


def run_pipeline(
    spark: SparkSession,
    *,
    source: str,
    out_path: str,
    checkpoint: str,
    **source_kwargs,
) -> StreamingQuery:
    """Wire the full stream: source → (decode) → conform → window → sink."""
    raw = read_stream(spark, source, **source_kwargs)
    events = decode_json(raw) if source == "kafka" else raw
    agg = build_aggregations(transform_orders(events))
    return write_stream(
        agg,
        out_path,
        checkpoint,
        available_now=(source != "kafka"),
    )


def dedup_stream(df: DataFrame, watermark: str = "15 minutes") -> DataFrame:
    """T8 extension — streaming deduplication with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per
    (product, order_ts) and evicts state once the watermark passes, so
    state size is O(keys per watermark horizon) instead of O(all keys
    ever) — the only safe shape for an unbounded stream.
    """
    return df.withWatermark("order_ts", watermark).dropDuplicatesWithinWatermark(
        ["product", "order_ts"]
    )


def session_aggregations(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """T2 extension — per-product session windows over the order stream
    (dynamic-length windows the reference's fixed sliding spec can't
    express). Append mode emits a session once the watermark passes its
    end. Output: product, revenue, session_start, session_end."""
    return (
        df.withWatermark("order_ts", watermark)
        .groupBy(F.session_window("order_ts", gap).alias("w"), F.col("product"))
        .agg(F.round(F.sum("line_amount"), 2).alias("revenue"))
        .select(
            "product",
            "revenue",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )


def keyed_state(
    staged: DataFrame,
    keys: list[str],
    order: list[str],
    out_ddl: str,
    state_ddl: str,
    step,
) -> DataFrame:
    """The one custom-state core (``applyInPandasWithState``) behind
    every stateful stream twin — the escape hatch for semantics a
    windowed aggregation can't express.

    Per key and micro-batch it concatenates the key's rows of
    ``staged``, stable-sorts them by ``order`` (empty keeps arrival
    order) and calls ``step(key, state, rows)`` with the restored state
    tuple (None for a key never seen). ``step`` returns ``(new_state,
    out_columns)``: ``new_state`` None persists nothing — how a
    per-row synthetic :func:`operators.users.user_key` never leaks a
    state entry — and ``out_columns`` maps the ``out_ddl`` fields to
    column values (update output mode).

    The state store checkpoints exactly like a built-in aggregation's,
    so a stop-and-restart from the same checkpoint resumes every key.
    There is no timeout: state lives as long as its key, so a twin over
    an open key space (users, sources) holds O(#keys) state.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key: tuple, pdfs, state):
        import pandas as pd  # local import: worker-side dependency

        rows = pd.concat(list(pdfs), ignore_index=True)
        if order:
            rows = rows.sort_values(order, kind="mergesort", ignore_index=True)
        new_state, out = step(key, tuple(state.get) if state.exists else None, rows)
        if new_state is not None:
            state.update(new_state)
        yield pd.DataFrame(out)

    return staged.groupBy(*keys).applyInPandasWithState(
        update, out_ddl, state_ddl, "update", GroupStateTimeout.NoTimeout
    )


def running_product_totals(df: DataFrame) -> DataFrame:
    """Cumulative, never-closing per-product totals emitted every
    micro-batch — the :func:`keyed_state` twin of the windowed revenue.

    State: one double per product. Each micro-batch updates the running
    total and emits (product, total, batch_rows); a stop-and-restart
    from the same checkpoint resumes the totals (asserted by restart
    test). State is O(#products), small by definition here; the twins
    keyed on an open domain (:func:`attribution_stream`,
    :func:`debounce_stream`, :func:`funnel_stream`,
    :func:`markov_transition_stream` per user,
    ``streaming.curation.budget_admission_stream`` per source) hold
    O(#keys) state for as long as the query runs.
    """

    def step(key, state, rows):
        (total,) = state or (0.0,)
        total += float(rows["line_amount"].fillna(0.0).sum())
        out = {"product": [key[0]], "total": [round(total, 2)], "batch_rows": [len(rows)]}
        return (total,), out

    return keyed_state(
        df, ["product"], [], "product string, total double, batch_rows long",
        "total double", step,
    )


def attribution_stream(
    events: DataFrame,
    purchase_type: str = "purchase",
    lookback_s: int = 7 * 86400,
) -> DataFrame:
    """T8 extension — STREAMING last-touch attribution, the continuous
    twin of batch :func:`operators.asof.attribution_last_touch` (the
    oracle anchor; the reference's streaming half exists for exactly
    this class of event-time analytics,
    `streaming_sales_aggregator.py:266-286`).

    State per user: the single most-recent non-purchase touch
    ``(t_sec, t_id, t_type)`` — O(#active users) longs, NOT an event
    buffer. Each arriving purchase is credited to the stored touch iff
    it is within ``lookback_s`` seconds, else to ``unattributed``.
    Rows are processed in the batch op's exact window order
    ``(ts, is_purchase, event_id)`` inside every micro-batch, so a
    same-timestamp touch IS visible to its purchase and ties resolve
    to the highest touch event_id — feeding the same events through
    batch and stream yields identical per-purchase attributions
    (asserted, including across a checkpoint restart). Cross-batch the
    stream assumes per-user event-time-ordered arrival (the replay
    producer's guarantee); a touch arriving AFTER its purchase's batch
    is attribution the batch op can see but a stream, by definition,
    cannot.

    NULL-user purchases get the batch op's per-row unique
    :func:`operators.users.user_key` so they emit ``unattributed``
    without ever creating shared state — and synthetic keys NEVER
    persist state at all (a per-row-unique key can never be read
    again, so storing it would be a permanent leak in the state store
    under null-user traffic).

    Exactness: purchase values are 2-dp-rounded to integer CENTS
    (the batch op's discipline); channel rollups downstream stay
    integer-exact. Output stream (update mode): purchase_id, user_id,
    channel, cents.
    """
    typed = events.select(
        user_key().alias("ukey"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.unix_timestamp("ts").alias("sec"),
        (F.col("event_type") == purchase_type).cast("int").alias("is_purchase"),
        F.round(F.round(F.col("value"), 2) * 100, 0).cast("long").alias("cents"),
    )

    def step(key, touch, rows):
        import pandas as pd  # local import: worker-side dependency

        out: dict[str, list] = {
            "purchase_id": [], "user_id": [], "channel": [], "cents": []
        }
        for row in rows.itertuples(index=False):
            if row.is_purchase:
                within = (
                    touch is not None
                    and int(row.sec) - int(touch[0]) <= int(lookback_s)
                )
                out["purchase_id"].append(int(row.event_id))
                out["user_id"].append(
                    None if pd.isna(row.user_id) else int(row.user_id)
                )
                out["channel"].append(touch[2] if within else "unattributed")
                out["cents"].append(0 if pd.isna(row.cents) else int(row.cents))
            else:
                touch = (int(row.sec), int(row.event_id), str(row.event_type))
        return (None if is_null_user_key(key[0]) else touch), out

    return keyed_state(
        typed, ["ukey"], ["ts", "is_purchase", "event_id"],
        "purchase_id long, user_id long, channel string, cents long",
        "t_sec long, t_id long, t_type string", step,
    )


def debounce_stream(events: DataFrame, gap_s: int = 60) -> DataFrame:
    """T8 extension — STREAMING rapid-repeat suppression, the
    continuous twin of batch
    :func:`operators.users.event_debounce` (the oracle anchor): an
    event is dropped when the same user's previous event of the same
    type is ≤ ``gap_s`` seconds earlier (the lag-to-predecessor rule —
    the predecessor counts whether or not IT was kept, exactly the
    batch op's ``lag`` semantics).

    State per (user, event_type): ONE long — the last event's epoch
    second. Rows process in the batch window order ``(ts, event_id)``
    within each micro-batch; cross-batch the stream assumes per-user
    event-time-ordered arrival (the :func:`attribution_stream`
    contract). NULL-user events get the batch op's per-row unique
    :func:`operators.users.user_key`: alone in their group they have
    no predecessor, are never dropped, the shared-NULL hot key never
    forms, and NO state is persisted for them (a per-row-unique key is
    never read again — storing it would leak one state entry per
    null-user event).

    Output stream (update mode): event_id, user_id, event_type, kept.
    """
    typed = events.select(
        user_key().alias("ukey"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
        F.col("user_id").isNotNull().alias("has_user"),
    )

    def step(key, state, rows):
        import pandas as pd  # local import: worker-side dependency

        last = int(state[0]) if state else None
        out: dict[str, list] = {
            "event_id": [], "user_id": [], "event_type": [], "kept": []
        }
        for row in rows.itertuples(index=False):
            dropped = (
                bool(row.has_user)
                and last is not None
                and int(row.sec) - last <= int(gap_s)
            )
            out["event_id"].append(int(row.event_id))
            out["user_id"].append(
                None if pd.isna(row.user_id) else int(row.user_id)
            )
            out["event_type"].append(str(row.event_type))
            out["kept"].append(0 if dropped else 1)
            last = int(row.sec)
        return (None if is_null_user_key(key[0]) else (last,)), out

    return keyed_state(
        typed, ["ukey", "event_type"], ["ts", "event_id"],
        "event_id long, user_id long, event_type string, kept int",
        "last_sec long", step,
    )


def streaks_stream(df: DataFrame) -> DataFrame:
    """T8 extension — STREAMING consecutive-day revenue streaks, the
    continuous twin of batch :func:`operators.retail.revenue_streaks`
    (the oracle anchor). The batch op is gaps-and-islands over the
    per-(product, day) aggregate; a stream cannot renumber history, so
    the island structure lives in O(1) state per product instead:
    (last day seen, current run [start/length/cents], best run
    [length/start/end/cents], active-day and streak counters) — ten
    longs, never an event buffer.

    Each micro-batch processes a product's rows in ``order_date``
    order: same day accumulates cents, day+1 extends the run, a gap
    closes it and opens a new one. The best-run comparator is the
    batch op's struct-max exactly — longer wins, ties prefer the
    EARLIER start. Every batch emits the product's current summary
    (update mode), so after the stream drains the latest row per
    product equals the batch output on the same events. Cross-batch
    ordered arrival is assumed (the :func:`attribution_stream`
    contract); days never straddle backwards.

    Input: conformed retail stream (product, order_date, amount).
    Output stream: product, active_days, n_streaks, longest_streak,
    streak_start (date), streak_end (date), streak_revenue.
    """
    typed = df.select(
        F.col("product").cast("string").alias("product"),
        F.datediff(
            F.col("order_date").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
        F.round(F.round(F.col("amount"), 2) * 100, 0)
        .cast("long")
        .alias("cents"),
    ).filter(F.col("day").isNotNull())

    def step(key, state, rows):
        import datetime as _dt

        import pandas as pd  # local import: worker-side dependency

        (last_day, cur_start, cur_len, cur_cents, best_len, best_start,
         best_end, best_cents, active_days, n_streaks) = (
            int(v) for v in state or (0,) * 10
        )
        seen = state is not None

        def fold_best():
            # batch comparator: longer wins; ties prefer EARLIER start.
            # <= (not <) on the tie: equal start means cur IS the best
            # run (runs are disjoint day ranges, starts are unique per
            # product), whose cents may have grown via a same-day
            # accumulate — refresh, don't keep the stale snapshot
            nonlocal best_len, best_start, best_end, best_cents
            if cur_len > best_len or (
                cur_len == best_len and cur_start <= best_start
            ):
                best_len, best_start, best_cents = cur_len, cur_start, cur_cents
                best_end = cur_start + cur_len - 1

        for row in rows.itertuples(index=False):
            day, cents = int(row.day), 0 if pd.isna(row.cents) else int(row.cents)
            if not seen:
                cur_start, cur_len, cur_cents = day, 1, cents
                active_days, n_streaks = 1, 1
                seen = True
            elif day == last_day:
                cur_cents += cents
            elif day == last_day + 1:
                cur_len += 1
                cur_cents += cents
                active_days += 1
            else:
                fold_best()
                cur_start, cur_len, cur_cents = day, 1, cents
                active_days += 1
                n_streaks += 1
            last_day = day
        fold_best()
        epoch = _dt.date(1970, 1, 1)
        out = {
            "product": [key[0]],
            "active_days": [active_days],
            "n_streaks": [n_streaks],
            "longest_streak": [best_len],
            "streak_start": [epoch + _dt.timedelta(days=best_start)],
            "streak_end": [epoch + _dt.timedelta(days=best_end)],
            "streak_revenue": [round(best_cents / 100.0, 2)],
        }
        return (last_day, cur_start, cur_len, cur_cents, best_len, best_start,
                best_end, best_cents, active_days, n_streaks), out

    return keyed_state(
        typed, ["product"], ["day"],
        "product string, active_days long, n_streaks long, longest_streak long, "
        "streak_start date, streak_end date, streak_revenue double",
        "last_day long, cur_start long, cur_len long, cur_cents long, "
        "best_len long, best_start long, best_end long, best_cents long, "
        "active_days long, n_streaks long",
        step,
    )


def funnel_stream(
    events: DataFrame,
    stages: tuple = ("signup", "view", "click", "purchase"),
) -> DataFrame:
    """T8 extension — STREAMING ordered-conversion funnel, the
    continuous twin of batch :func:`operators.users.event_funnel` (the
    oracle anchor): stage N completes at the earliest event of that
    type strictly AFTER the user's stage-(N−1) completion.

    State per user: one long per stage — the completion timestamp in
    MICROseconds (the batch op compares full-precision timestamps, so
    second-truncated state would resolve same-second orderings
    differently). Within a micro-batch rows process in ``(ts,
    event_id)`` order; because arrival is per-user event-time ordered
    (the :func:`attribution_stream` contract), the first qualifying
    event for a stage IS the batch op's min — sequential update and
    the windowed min agree, asserted across a checkpoint restart.

    Every batch emits the user's current funnel depth (update mode);
    the final snapshot per user rolls up to the batch op's stage
    counts: ``users(stage i) = #users with depth > i``. Output stream:
    user_id, depth.
    """
    n_stages = len(stages)
    typed = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    stage_idx = {s: i for i, s in enumerate(stages)}

    def step(key, state, rows):
        ts = list(state or (None,) * n_stages)
        for row in rows.itertuples(index=False):
            i = stage_idx.get(str(row.event_type))
            if i is None or ts[i] is not None:
                continue
            if i == 0:
                ts[0] = int(row.us)
            elif ts[i - 1] is not None and int(row.us) > ts[i - 1]:
                ts[i] = int(row.us)
        depth = next((i for i, t in enumerate(ts) if t is None), n_stages)
        return tuple(ts), {"user_id": [int(key[0])], "depth": [depth]}

    return keyed_state(
        typed, ["user_id"], ["ts", "event_id"], "user_id long, depth long",
        ", ".join(f"t{i} long" for i in range(n_stages)), step,
    )


def hll_cardinality_stream(df: DataFrame, p_bits: int = 6) -> DataFrame:
    """Streaming distinct-user estimate per event_type with HARD-BOUNDED
    state — the cardinality twin of :func:`streaming.curation.
    bloom_admission_stream`'s membership bound: where streaming exact
    distinct (``dropDuplicates`` on user ids) holds one key per distinct
    user — unbounded at 100 TB/day — this holds exactly m = 2^``p_bits``
    longs per event_type, input-independent, forever.

    Twin contract: the register arithmetic is BIT-IDENTICAL to the
    batch anchor :func:`operators.users.user_cardinality_hll` — both
    stage (bucket, ρ) with :func:`functions.hashing.hll_stage` over the
    shared ``_hll_params`` (first 9 md5 hex → 36 bits, top p_bits
    bucket / low W = 36−p_bits suffix, ρ = (W+1) − length(bin(suffix))),
    same exact-integer estimate α_milli·m²·2^(W+1) div S — so after the
    last micro-batch each key's emitted row EQUALS the batch operator's
    row on the same accumulated data (the restart test pins this across
    a kill/resume). NULL event_type coalesces to the same 'unknown'
    sentinel the batch twin uses.

    The (bucket, ρ) pair is computed RELATIONALLY before the stateful
    op (JVM-side md5/conv/bin, whole-stage codegen); the Arrow-batched
    update only max-merges ≤ m rows per key per batch into the register
    array. Emits per key per micro-batch: event_type, n_buckets_hit,
    hll_estimate_milli (integer milli, exact arithmetic).
    """
    m, w, alpha_milli = _hll_params(p_bits)
    numer = alpha_milli * m * m * (1 << (w + 1))

    staged = hll_stage(
        df.filter(F.col("user_id").isNotNull()).select(
            F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type"),
            "user_id",
        ),
        p_bits,
    )

    def step(key, state, rows):
        regs = list(state[0]) if state else [0] * m
        if len(regs) != m:
            # The state format is a function of p_bits (m = 2^p_bits
            # registers). Resuming a checkpoint written with a
            # different p_bits would either IndexError (p grew) or
            # silently mis-bin and emit wrong estimates (p shrank) —
            # fail loudly with the operational fix instead.
            raise ValueError(
                f"hll_cardinality_stream: restored state has {len(regs)} "
                f"registers but p_bits={p_bits} expects m={m}; the sketch "
                "precision cannot change across a checkpoint — restart "
                "the query with a FRESH checkpoint location when "
                "changing p_bits"
            )
        for b, r in rows.groupby("bucket")["rho"].max().items():
            if r > regs[int(b)]:
                regs[int(b)] = int(r)
        hit = sum(1 for r in regs if r > 0)
        s_total = sum(1 << (w + 1 - r) for r in regs if r > 0) + (m - hit) * (
            1 << (w + 1)
        )
        out = {
            "event_type": [key[0]],
            "n_buckets_hit": [hit],
            "hll_estimate_milli": [numer // s_total],
        }
        return (regs,), out

    return keyed_state(
        staged, ["event_type"], [],
        "event_type string, n_buckets_hit long, hll_estimate_milli long",
        "regs array<long>", step,
    )


def markov_transition_stream(df: DataFrame) -> DataFrame:
    """Streaming first-order Markov transition counting — the custom-
    state twin of :func:`operators.users.event_markov_transitions`:
    per-user state is exactly the LAST seen (ts_micros, event_id,
    event_type) triple (one small tuple per user, input-independent per
    key), so each arriving event emits its (prev, next) transition and
    becomes the new state. Downstream the emitted pairs aggregate to
    the transition matrix; the restart test pins that rollup == the
    batch operator over the same events.

    Ordering contract: within a micro-batch rows process in
    (ts, event_id) order (the batch twin's deterministic lag order);
    ACROSS batches the recovered state carries the previous batch's
    last event, so a kill/resume produces the identical pair stream —
    the same replay discipline as :func:`attribution_stream`. Late
    events that would re-order across an already-processed boundary
    are a watermark concern the caller owns (same caveat as the batch
    lag over event time).

    Emits one row per transition: user_id, prev_event, next_event.
    """
    staged = df.filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("ts").cast("double") * 1_000_000).cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").cast("string").alias("event_type"),
    )

    def step(key, prev, rows):
        out_prev, out_next = [], []
        for r in rows.itertuples(index=False):
            if prev is not None:
                out_prev.append(prev[2])
                out_next.append(r.event_type)
            prev = (int(r.ts_us), int(r.event_id), str(r.event_type))
        out = {
            "user_id": [key[0]] * len(out_prev),
            "prev_event": out_prev,
            "next_event": out_next,
        }
        return prev, out

    return keyed_state(
        staged, ["user_id"], ["ts_us", "event_id"],
        "user_id long, prev_event string, next_event string",
        "ts_us long, event_id long, event_type string", step,
    )


def cusum_alert_stream(
    df: DataFrame,
    ref_micro: int = 1_000_000,
    threshold_micro: int = 5_000_000,
) -> DataFrame:
    """Streaming drift alerts via Page's one-sided CUSUM — the online
    twin of :func:`operators.users.event_volume_changepoint` (which
    finds the single best changepoint in HINDSIGHT; this one fires
    DURING ingestion): per event_type, accumulate
    S = max(0, S + (x − ref)) over event values and alert when S
    crosses the threshold, then reset — the classic quickest-detection
    recipe for a rate/level shift, O(1) state per key.

    Exactness: values enter as integer micro-units (micro = 1e6 ×
    value, rounded half-up once at staging), ``ref_micro`` and
    ``threshold_micro`` are integer parameters, so S is exact long
    arithmetic and an alert fires at the IDENTICAL row on every
    replay/restart (rows process in (ts, event_id) order within a
    batch, the :func:`markov_transition_stream` discipline; recovered
    state carries S across batches and restarts).

    Emits one row per micro-batch per key: event_type, s_micro (the
    post-batch accumulator), n_alerts (alerts fired THIS batch),
    last_alert_event_id (0 when none yet).
    """
    staged = df.select(
        F.col("event_type").cast("string").alias("event_type"),
        (F.col("ts").cast("double") * 1_000_000).cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round(F.col("value").cast("double") * 1_000_000, 0)
        .cast("long")
        .alias("v_micro"),
    )

    def step(key, state, rows):
        s, last_alert = (int(v) for v in state or (0, 0))
        n_alerts = 0
        for r in rows.itertuples(index=False):
            s = max(0, s + int(r.v_micro) - ref_micro)
            if s >= threshold_micro:
                n_alerts += 1
                last_alert = int(r.event_id)
                s = 0  # reset after the alarm (standard restart rule)
        out = {
            "event_type": [key[0]],
            "s_micro": [s],
            "n_alerts": [n_alerts],
            "last_alert_event_id": [last_alert],
        }
        return (s, last_alert), out

    return keyed_state(
        staged, ["event_type"], ["ts_us", "event_id"],
        "event_type string, s_micro long, n_alerts long, last_alert_event_id long",
        "s_micro long, last_alert_event_id long", step,
    )


def spacesaving_topk_stream(df: DataFrame, k: int = 8) -> DataFrame:
    """Streaming heavy hitters via SpaceSaving (Metwally et al. 2005,
    public) — per event_type, the top users by event count from
    EXACTLY ``k`` counters of state, however many distinct users flow
    through: the frequency member of the bounded-state sketch family
    (:func:`streaming.curation.bloom_admission_stream` = membership,
    :func:`hll_cardinality_stream` = cardinality,
    :func:`cusum_alert_stream` = drift).

    SpaceSaving's guarantee: every item with true count >
    min-counter survives in the summary, and for each kept item
    true ≤ est ≤ true + err (err = the counter's inherited overcount,
    tracked per slot and EMITTED so downstream can see the bound —
    err = 0 means the count is exact). Determinism: rows replay in
    (ts, event_id) order within a batch and the min-victim tie breaks
    to the lexicographically smallest key, so the summary — including
    which near-tail items survive — is identical on every
    replay/restart (pinned by a pure-Python replay in the test, the
    bloom discipline).

    Emits per key per micro-batch, one row per occupied slot:
    event_type, item, est_count, err, rank (1 = heaviest; ties by
    item ASC).
    """
    staged = df.filter(F.col("user_id").isNotNull()).select(
        F.col("event_type").cast("string").alias("event_type"),
        (F.col("ts").cast("double") * 1_000_000).cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("string").alias("item"),
    )

    def step(key, state, rows):
        summary = {it: [c, e] for it, c, e in zip(*state)} if state else {}
        for r in rows.itertuples(index=False):
            it = str(r.item)
            if it in summary:
                summary[it][0] += 1
            elif len(summary) < k:
                summary[it] = [1, 0]
            else:
                # evict the min counter; smallest item breaks ties so
                # the victim is replay-deterministic
                victim = min(summary, key=lambda x: (summary[x][0], x))
                c = summary.pop(victim)[0]
                summary[it] = [c + 1, c]
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        items = [it for it, _ in ordered]
        counts = [v[0] for _, v in ordered]
        errs = [v[1] for _, v in ordered]
        out = {
            "event_type": [key[0]] * len(ordered),
            "item": items,
            "est_count": counts,
            "err": errs,
            "rank": list(range(1, len(ordered) + 1)),
        }
        return (items, counts, errs), out

    return keyed_state(
        staged, ["event_type"], ["ts_us", "event_id"],
        "event_type string, item string, est_count long, err long, rank int",
        "items array<string>, counts array<long>, errs array<long>", step,
    )


def enrich_stream(df: DataFrame, dim: DataFrame, on: str = "product") -> DataFrame:
    """Stream-static broadcast join: every micro-batch joins against the
    (re-read) static dimension — no state store, no watermark required;
    at 100 TB the dim broadcast is per-batch and the stream never
    shuffles. LEFT join keeps unmatched events (dim gaps must not drop
    revenue rows)."""
    return df.join(F.broadcast(dim), on, "left")


def join_orders_refunds(
    orders: DataFrame,
    refunds: DataFrame,
    watermark: str = "15 minutes",
    horizon: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — an operator class the reference has
    no analog for (T8: no stream-stream joins). A refund matches an
    order of the same product when it lands within ``horizon`` after the
    order. Both sides are watermarked and the join condition bounds the
    event-time range, so each side's state is evicted once the watermark
    passes order_ts + horizon — bounded state on unbounded streams.

    ``orders``/``refunds`` are conformed frames (product, order_ts,
    line_amount). Output: product, order_ts, refund_ts, line_amount,
    refund_amount.
    """
    o = orders.select(
        "product", "order_ts", "line_amount"
    ).withWatermark("order_ts", watermark)
    r = refunds.select(
        F.col("product").alias("r_product"),
        F.col("order_ts").alias("refund_ts"),
        F.col("line_amount").alias("refund_amount"),
    ).withWatermark("refund_ts", watermark)
    return o.join(
        r,
        F.expr(
            f"product = r_product AND refund_ts >= order_ts "
            f"AND refund_ts <= order_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select("product", "order_ts", "refund_ts", "line_amount", "refund_amount")


def write_stream_upsert(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str | None = None,
):
    """foreachBatch upsert sink — MERGE semantics for a stream without a
    table format. Each micro-batch runs `sinks.upsert_partitioned`: new
    keys insert, re-delivered or corrected keys replace their previous
    row, and only partitions present in the batch are rewritten.

    This is the idiomatic Spark pattern for sinks the built-in writers
    can't express (upserts, JDBC merges, multi-sink fan-out): foreachBatch
    hands the micro-batch over as a *batch* DataFrame with exactly-once
    bookkeeping from the checkpoint. Replays after a crash re-run the
    same epoch, and the per-key rewrite makes the replay idempotent —
    the end-to-end contract is effectively exactly-once even though
    foreachBatch itself is at-least-once.
    """
    from data_pipeline_example_spark import sinks

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sinks.upsert_partitioned(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols=key_cols,
            partition_col=partition_col,
            order_col=order_col,
        )

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _write_ivm_epoch_partials(batch_df: DataFrame, epoch_id: int, path: str) -> None:
    """One micro-batch of the daily-revenue IVM: fold the batch to
    per-(order_date, product) integer-cents partials and overwrite the
    ``epoch=<id>`` partition of the partials table. Exposed at module
    level so the replay-idempotence property is directly testable:
    foreachBatch is at-least-once, and a re-delivered epoch must
    REPLACE its own partition, never add to it."""
    if batch_df.isEmpty():
        return
    partials = (
        batch_df.select(
            "order_date",
            "product",
            F.round(F.round(F.col("amount"), 2) * 100, 0)
            .cast("long")
            .alias("c"),
        )
        .groupBy("order_date", "product")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("c").cast("long").alias("total_cents"),
        )
        .withColumn("epoch", F.lit(int(epoch_id)))
    )
    partials.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(path)


def write_stream_ivm_daily_revenue(
    df: DataFrame, path: str, checkpoint: str
):
    """T8 extension — STREAMING incremental view maintenance of the
    flagship daily-revenue rollup, the continuous twin of batch
    :func:`operators.retail.incremental_daily_revenue` (the oracle
    anchor). The reference splits this exact workload batch/stream
    (`pipeline_batch.py:205-207` vs
    `streaming_sales_aggregator.py:266-286`); the batch op's integer
    CENTS discipline exists precisely so this merge is exact — float
    partials are non-associative and an IVM table maintained in floats
    silently drifts from its recompute.

    Mechanics: each micro-batch folds to |days × products| partial
    rows (map-side combined; events never accumulate) and OVERWRITES
    its own ``epoch=<id>`` partition of a partitioned partials table —
    foreachBatch replays after a crash rewrite the same partition, so
    the sink is idempotent and the end-to-end contract exactly-once.
    The serving view (:func:`read_ivm_daily_revenue`) re-aggregates
    the partials — long-sum associativity makes it EQUAL to the batch
    GROUP BY over all events ever streamed, pinned by a restart test.
    At 100 TB the partials table grows one tiny partition per epoch;
    :func:`compact_ivm_partials` is the standing maintenance job that
    folds old epochs into one base partition — the same associativity
    makes it safe at any time, and its single dynamic-overwrite job
    keeps the exactly-once contract across a crash.
    """
    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        _write_ivm_epoch_partials(batch_df, epoch_id, path)

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_ivm_daily_revenue(spark, path: str) -> DataFrame:
    """Serving view over the IVM partials table: the partial-merge
    re-aggregation (the batch op's merge step, verbatim). Output:
    order_date, product, n_rows, total_cents."""
    return (
        spark.read.parquet(path)
        .groupBy("order_date", "product")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
    )


def compact_ivm_partials(spark, path: str) -> dict[str, int]:
    """Compact the IVM partials table: fold every epoch partition but
    the latest into a single consolidated base partition — the
    standing maintenance job for :func:`write_stream_ivm_daily_revenue`,
    whose partials table otherwise grows one tiny partition per
    micro-batch forever (at 100 TB/day that is thousands of partitions
    a week, and the serving re-aggregate pays file-open cost for each;
    the same problem :func:`sinks.compact_partitions` solves for row
    files, solved here at the PARTITION level).

    Exactly-once discipline, mirrored from the epoch writer itself
    (one dynamic-overwrite job is the atomicity unit):

    * the merged base lands in the LOWEST compacted epoch's partition;
    * every other compacted epoch is rewritten IN THE SAME WRITE JOB
      to a single zero-contribution row (n_rows = 0, total_cents = 0,
      keyed on the merged frame's min (order_date, product) — an
      existing group, so the serving re-aggregate is bit-identical);
      a dynamic overwrite can only replace partitions PRESENT in the
      output, so the zero row is what makes "merged into base" and
      "cleared everywhere else" one atomic commit instead of a
      merge-then-delete pair a crash can split;
    * long-sum associativity makes the operation idempotent: re-running
      it (at-least-once replay, a crash before the commit) re-merges
      the same partitions to the same result.

    The in-flight epoch is protected structurally: only epochs
    STRICTLY below the maximum epoch on disk are ever compacted, so a
    foreachBatch replay of the latest epoch (the only one the
    checkpoint can re-deliver) still overwrites its own partition,
    never a compacted one. Returns {"epochs_compacted": k,
    "base_epoch": b} ({"epochs_compacted": 0} when nothing to do).
    """
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        return {"epochs_compacted": 0}
    epochs = sorted(
        r["epoch"] for r in df.select("epoch").distinct().collect()
    )
    eligible = epochs[:-1]
    if len(eligible) < 2:
        return {"epochs_compacted": 0}
    base, ceiling = eligible[0], eligible[-1]
    # already-compacted short-circuit: dynamic overwrite cannot delete a
    # partition, so compacted epochs persist as zero sentinels — if every
    # eligible non-base partition is already all-zero there is nothing to
    # fold and the scheduled maintenance run skips the rewrite
    already_compacted = (
        df.filter((F.col("epoch") <= ceiling) & (F.col("epoch") != base))
        .filter(F.col("n_rows") != 0)
        .isEmpty()
    )
    if already_compacted:
        return {"epochs_compacted": 0}
    # materialize before the overwrite — the plan reads the path it is
    # about to rewrite (the compact_partitions / update_dedup_index rule)
    merged = (
        df.filter(F.col("epoch") <= ceiling)
        .groupBy("order_date", "product")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .withColumn("epoch", F.lit(int(base)))
        .transform(_materialize)
    )
    anchor = (
        merged.orderBy("order_date", "product")
        .limit(1)
        .select("order_date", "product")
    )
    sentinels = anchor.crossJoin(
        spark.createDataFrame(
            [(int(e),) for e in eligible[1:]], "epoch int"
        )
    ).select(
        "order_date",
        "product",
        F.lit(0).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("total_cents"),
        "epoch",
    )
    out = merged.select(
        "order_date", "product", "n_rows", "total_cents", "epoch"
    ).union(sentinels)
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(path)
    return {"epochs_compacted": len(eligible), "base_epoch": int(base)}


def build_arg_parser():
    """spark-submit CLI for the streaming job — the DEPLOY.md twin of
    the reference's `spark-streaming` compose service
    (`docker-compose.streaming.yml:244-250`, which submits
    `streaming_sales_aggregator.py` with `--packages` for the Kafka
    connector). Exposed separately so deployment commands can be
    smoke-tested without a session or broker."""
    import argparse

    p = argparse.ArgumentParser(
        prog="streaming-job",
        description="windowed revenue stream (Kafka or JSON landing dir in, parquet out)",
    )
    p.add_argument("--source", choices=("kafka", "json"), default="kafka")
    p.add_argument("--bootstrap", default="localhost:9092", help="Kafka bootstrap servers")
    p.add_argument("--topic", default="sales")
    p.add_argument(
        "--starting-offsets", default="latest",
        help="Kafka startingOffsets (reference: env-overridable, default latest)",
    )
    p.add_argument("--input-path", default=None, help="JSON landing dir (source=json)")
    p.add_argument("--output", required=True, help="append-only parquet output path")
    p.add_argument("--checkpoint", required=True, help="checkpoint location")
    return p


def _progress_line(progress: dict) -> str:
    """One JSON line for a micro-batch's progress report (the JSON form
    of ``StreamingQuery.lastProgress``): its batchId, numInputRows,
    processedRowsPerSecond, event-time watermark, and the rows held in
    state summed over the stateful operators."""
    return json.dumps(
        {
            "batchId": progress.get("batchId"),
            "numInputRows": progress.get("numInputRows"),
            "processedRowsPerSecond": progress.get("processedRowsPerSecond"),
            "watermark": (progress.get("eventTime") or {}).get("watermark"),
            "stateRowsTotal": sum(
                op.get("numRowsTotal", 0)
                for op in progress.get("stateOperators") or ()
            ),
        }
    )


def _await_with_progress(query: StreamingQuery) -> None:
    """``query.awaitTermination()`` that prints :func:`_progress_line` to
    stdout for every progress report the query makes while it runs
    (polled once a second; reports are ordered by their timestamp, so
    none is printed twice or skipped between polls)."""
    last = ""
    while True:
        done = query.awaitTermination(1)
        for report in query.recentProgress:
            p = json.loads(report.json)
            if p["timestamp"] > last:
                last = p["timestamp"]
                print(_progress_line(p), flush=True)
        if done:
            return


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.source == "json" and not args.input_path:
        build_arg_parser().error("--input-path is required with --source json")
    from data_pipeline_example_spark.session import get_spark

    spark = get_spark(app_name="streaming-job")
    kwargs = (
        {
            "kafka_bootstrap": args.bootstrap,
            "topic": args.topic,
            "starting_offsets": args.starting_offsets,
        }
        if args.source == "kafka"
        else {"path": args.input_path}
    )
    query = run_pipeline(
        spark,
        source=args.source,
        out_path=args.output,
        checkpoint=args.checkpoint,
        **kwargs,
    )
    _await_with_progress(query)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
