"""Schema-drift-tolerant normalization — the reference's signature feature.

The reference implements this twice, inline and subtly differently, in
`services/batch/pipeline_batch.py:131-202` and
`services/streaming/streaming_sales_aggregator.py:203-263` (SURVEY.md §2.3).
Here it is one named operator, ``conform(df, spec)``, parameterized by a
``ConformSpec`` so both historical behaviors are preserved exactly. The
spec holds only the knobs on which the two paths differ; what they share
(product/amount/price synonyms, the total-price and quantity columns,
the 2-dp rounding) is a module constant:

* header normalization (P1): lower+strip all column names
* product synonym resolution (P2) + blank/null backfill to UNKNOWN (P11)
* event-time synonym resolution (P3) — batch and streaming use *different
  candidate orders* (pipeline_batch.py:143-147 vs
  streaming_sales_aggregator.py:215-221); both orders are specs here
* multi-format timestamp parsing (P4/P5) and date derivation (P6)
* numeric try_cast (P7), amount derivation (P8 batch: branch on column
  *presence*; P9 streaming: branch on row-level *nullity*), 2-dp round (P10)
* invalid-row filters (F1/F2/F3) with optional ``Observation`` diagnostics
  replacing the reference's extra count() actions (SURVEY.md §4 "hand-rolled
  inefficiencies")

Documented deviation: the reference's yyyyMMdd fallback is dead code due to
a double-escaped regex (`pipeline_batch.py:156`, SURVEY.md §2.3 P5); this
rebuild fixes the pattern to ``^(\\d{8})`` so the branch works.

Everything is driver-side schema introspection (``df.columns``) plus native
Column expressions — no UDFs, so Catalyst/codegen stay fully effective and
the operator is safe at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNKNOWN_PRODUCT = "UNKNOWN"

# Multi-format parse chain, streaming_sales_aggregator.py:225-238: bare
# cast, T→space, then explicit formats, then bare date.
STREAMING_TS_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
)

# Column synonyms and output rounding shared by both reference paths
PRODUCT_CANDIDATES: tuple[str, ...] = ("product", "item")
AMOUNT_CANDIDATES: tuple[str, ...] = ("amount",)
PRICE_CANDIDATES: tuple[str, ...] = ("unit_price", "price")
TOTAL_PRICE_COL = "total_price"
QUANTITY_COL = "quantity"
ROUND_SCALE = 2


@dataclass(frozen=True)
class ConformSpec:
    """Declarative description of one schema-drift-normalization policy:
    exactly the knobs on which the batch and streaming paths differ."""

    date_candidates: tuple[str, ...] = (
        # batch order, pipeline_batch.py:143-147
        "order_date", "date", "order_time", "timestamp", "event_time",
    )
    # P8 "column_presence" (batch) vs P9 "row_nullity" (streaming)
    amount_mode: str = "column_presence"
    # streaming multi-format parse chain; batch uses plain try_cast + yyyyMMdd
    ts_formats: tuple[str, ...] = ()
    # P11 null/blank→UNKNOWN backfill is batch-only
    # (pipeline_batch.py:199-202); streaming only trims, a null product
    # stays null (streaming_sales_aggregator.py:208-210)
    product_backfill_unknown: bool = True
    # T7: no timestamp column at all → literal epoch (streaming only)
    epoch_default_when_no_ts: bool = False
    # output shaping
    amount_out: str = "amount"
    keep_order_ts: bool = False  # batch drops it (P13); streaming keeps it
    drop_invalid_dates: bool = True    # F1 (batch, on order_date)
    drop_invalid_ts: bool = False      # F3 (streaming, on order_ts)
    drop_null_amounts: bool = True     # F2 (batch)
    null_amount_to_zero: bool = False  # streaming maps null → 0.0 instead


BATCH_SPEC = ConformSpec()

STREAMING_SPEC = ConformSpec(
    date_candidates=("event_time", "order_time", "order_date", "timestamp"),
    amount_mode="row_nullity",
    ts_formats=STREAMING_TS_FORMATS,
    product_backfill_unknown=False,
    epoch_default_when_no_ts=True,
    amount_out="line_amount",
    keep_order_ts=True,
    drop_invalid_dates=False,
    drop_invalid_ts=True,
    drop_null_amounts=False,
    null_amount_to_zero=True,
)


def _try_cast(col: Column, dtype: str) -> Column:
    """Null-on-error cast (pipeline_batch.py:154-155,184 semantics)."""
    return col.try_cast(dtype)


def _first_present(columns: list[str], candidates: tuple[str, ...]) -> str | None:
    for c in candidates:
        if c in columns:
            return c
    return None


def normalize_headers(df: DataFrame) -> DataFrame:
    """P1 — lower/strip every column name (pipeline_batch.py:131-132).

    Deviation from the reference: headers that *collide* after
    normalization ("PRODUCT " next to "product") are deduplicated —
    first occurrence keeps the name, later ones get a ``__dupN`` suffix.
    The reference would emit duplicate column names and crash on the
    first ambiguous reference; drift-tolerant ingest shouldn't.
    """
    seen: dict[str, int] = {}
    names = []
    for c in df.columns:
        n = c.lower().strip()
        if n in seen:
            seen[n] += 1
            n = f"{n}__dup{seen[n]}"
        else:
            seen[n] = 0
        names.append(n)
    return df.toDF(*names)


def _resolve_product(df: DataFrame, spec: ConformSpec) -> Column:
    """P2 (+ P11 backfill when the spec says so —
    pipeline_batch.py:134-140,199-202; streaming trims only,
    streaming_sales_aggregator.py:208-210)."""
    # both reference paths pick the first *existing* candidate column
    product_col = _first_present(df.columns, PRODUCT_CANDIDATES)
    if product_col is None:
        return F.lit(UNKNOWN_PRODUCT)
    trimmed = F.trim(F.col(product_col).cast("string"))
    if not spec.product_backfill_unknown:
        return trimmed
    return F.when(trimmed.isNull() | (trimmed == ""), F.lit(UNKNOWN_PRODUCT)).otherwise(trimmed)


def _parse_timestamp(raw: Column, spec: ConformSpec) -> Column:
    """P4/P5 — coalesce chain of parse attempts over one raw string col."""
    trimmed = F.trim(raw.cast("string"))
    attempts = [_try_cast(trimmed, "timestamp")]
    if spec.ts_formats:
        # streaming chain (streaming_sales_aggregator.py:225-238)
        spaced = F.regexp_replace(trimmed, "T", " ")
        attempts.append(_try_cast(spaced, "timestamp"))
        attempts.extend(F.to_timestamp(trimmed, fmt) for fmt in spec.ts_formats)
        attempts.append(_try_cast(trimmed, "date").cast("timestamp"))
    return F.coalesce(*attempts)


def _derive_date(raw: Column, order_ts: Column) -> Column:
    """P5 — batch date coalesce incl. the *fixed* yyyyMMdd fallback."""
    trimmed = F.trim(raw.cast("string"))
    return F.coalesce(
        F.to_date(order_ts),
        _try_cast(trimmed, "date"),
        # reference pattern r"^(\\d{8})" is dead code (double escape);
        # deliberate fix per SURVEY.md §2.3 P5
        F.to_date(F.regexp_extract(trimmed, r"^(\d{8})", 1), "yyyyMMdd"),
    )


def _derive_amount(df: DataFrame, spec: ConformSpec) -> Column:
    cols = df.columns
    if spec.amount_mode == "column_presence":
        # P8, pipeline_batch.py:179-194: branch on which columns EXIST
        amount_col = _first_present(cols, AMOUNT_CANDIDATES)
        if amount_col is not None:
            return _try_cast(F.col(amount_col), "double")
        price_col = _first_present(cols, PRICE_CANDIDATES)
        if QUANTITY_COL in cols and price_col is not None:
            return _try_cast(F.col(QUANTITY_COL), "double") * _try_cast(
                F.col(price_col), "double"
            )
        return F.lit(0.0)
    # P9, streaming_sales_aggregator.py:249-261: branch on row-level nullity
    total = (
        _try_cast(F.col(TOTAL_PRICE_COL), "double")
        if TOTAL_PRICE_COL in cols
        else F.lit(None).cast("double")
    )
    price_col = _first_present(cols, PRICE_CANDIDATES)
    qty = (
        _try_cast(F.col(QUANTITY_COL), "double")
        if QUANTITY_COL in cols
        else F.lit(None).cast("double")
    )
    unit = _try_cast(F.col(price_col), "double") if price_col else F.lit(None).cast("double")
    return F.when(total.isNotNull(), total).otherwise(qty * unit)


def conform(df: DataFrame, spec: ConformSpec = BATCH_SPEC, observation=None) -> DataFrame:
    """Normalize a drifting raw schema to (product, order_date[, order_ts],
    amount) + passthrough columns. Pure ``df -> df``; lazy; no actions.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to collect the
    row-drop diagnostics (invalid_dates / null_amounts) from the first
    action on the result — the zero-extra-job replacement for the
    reference's diagnostic ``count()`` passes (SURVEY.md §4).
    """
    df = normalize_headers(df)

    df = df.withColumn("product", _resolve_product(df, spec))

    # first *existing* candidate (streaming_sales_aggregator.py:216-221
    # `choose_timestamp`; pipeline_batch.py:143-147): under streaming's
    # fixed 12-field schema that is always `event_time`, so a row with a
    # null event_time is dropped even when order_time holds a value
    ts_col = _first_present(df.columns, spec.date_candidates)
    if ts_col is not None:
        raw = F.col(ts_col)
        order_ts = _parse_timestamp(raw, spec)
    elif spec.epoch_default_when_no_ts:
        # T7, streaming_sales_aggregator.py:222-223
        raw = F.lit(None).cast("string")
        order_ts = F.lit("1970-01-01").cast("timestamp")
    else:
        raw = F.lit(None).cast("string")
        order_ts = F.lit(None).cast("timestamp")
    df = df.withColumn("order_ts", order_ts)

    if spec.ts_formats:
        # streaming: date strictly from the parsed ts (P6)
        df = df.withColumn("order_date", F.to_date(F.col("order_ts")))
    else:
        df = df.withColumn("order_date", _derive_date(raw, F.col("order_ts")))

    amount = _derive_amount(df, spec)
    if spec.null_amount_to_zero:
        amount = F.when(amount.isNull(), F.lit(0.0)).otherwise(amount)
    df = df.withColumn(spec.amount_out, F.round(amount, ROUND_SCALE))

    if observation is not None:
        df = df.observe(
            observation,
            F.count(F.when(F.col("order_date").isNull(), 1)).alias("invalid_dates"),
            F.count(F.when(F.col(spec.amount_out).isNull(), 1)).alias("null_amounts"),
        )

    if spec.drop_invalid_dates:
        df = df.filter(F.col("order_date").isNotNull())  # F1
    if spec.drop_invalid_ts:
        df = df.filter(F.col("order_ts").isNotNull())  # F3
    if spec.drop_null_amounts:
        df = df.filter(F.col(spec.amount_out).isNotNull())  # F2

    if not spec.keep_order_ts:
        df = df.drop("order_ts")  # P13
    return df
