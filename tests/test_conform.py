"""Unit tests for the conform operator — the edge-case matrix from
FIXTURES.md §F-A (synonym columns, missing columns, dirty values, date
formats) against both the batch and streaming specs."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from data_pipeline_example_spark.conform import BATCH_SPEC, STREAMING_SPEC, conform


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_batch_happy_path(spark):
    df = spark.createDataFrame(
        [("Masala Dosa", "2025-01-15", "356.40")], ["product", "order_date", "amount"]
    )
    out = conform(df, BATCH_SPEC)
    assert rows(out, "product", "order_date", "amount") == [
        ("Masala Dosa", datetime.date(2025, 1, 15), 356.40)
    ]


def test_batch_header_normalization_and_synonyms(spark):
    # ' Item ' synonym for product, quantity×price fallback, date via 'timestamp'
    df = spark.createDataFrame(
        [(" Idli ", "3", "25.50", "2025-01-02 10:00:00")],
        [" Item ", "Quantity", "PRICE", "Timestamp"],
    )
    out = conform(df, BATCH_SPEC)
    assert rows(out, "product", "order_date", "amount") == [
        ("Idli", datetime.date(2025, 1, 2), 76.5)
    ]


def test_batch_missing_product_becomes_unknown(spark):
    df = spark.createDataFrame([("2025-01-01", "5.0")], ["order_date", "amount"])
    assert rows(conform(df, BATCH_SPEC), "product") == [("UNKNOWN",)]


def test_batch_blank_product_becomes_unknown(spark):
    df = spark.createDataFrame(
        [("   ", "2025-01-01", "5.0"), (None, "2025-01-01", "6.0")],
        ["product", "order_date", "amount"],
    )
    assert rows(conform(df, BATCH_SPEC), "product") == [("UNKNOWN",), ("UNKNOWN",)]


def test_batch_no_date_column_drops_all(spark):
    df = spark.createDataFrame([("x", "5.0")], ["product", "amount"])
    assert conform(df, BATCH_SPEC).count() == 0


def test_batch_unparseable_dropped(spark):
    df = spark.createDataFrame(
        [
            ("a", "not-a-date", "5.0"),  # bad date → dropped (F1)
            ("b", "2025-01-01", "garbage"),  # bad amount → null → dropped (F2)
            ("c", "2025-01-01", "7.25"),
        ],
        ["product", "order_date", "amount"],
    )
    assert rows(conform(df, BATCH_SPEC), "product", "amount") == [("c", 7.25)]


def test_batch_yyyymmdd_fallback_fixed(spark):
    # the reference's dead-code branch, deliberately fixed (SURVEY.md P5)
    df = spark.createDataFrame([("a", "20250115", "1.0")], ["product", "order_date", "amount"])
    assert rows(conform(df, BATCH_SPEC), "order_date") == [(datetime.date(2025, 1, 15),)]


def test_batch_no_amount_sources_is_zero(spark):
    df = spark.createDataFrame([("a", "2025-01-01")], ["product", "order_date"])
    assert rows(conform(df, BATCH_SPEC), "amount") == [(0.0,)]


def test_streaming_total_price_preference_is_rowwise(spark):
    # P9: total_price wins when non-null *per row*, else quantity×unit_price
    df = spark.createDataFrame(
        [
            Row(product="a", event_time="2025-01-01 10:00:00", quantity="2",
                unit_price="3.0", total_price="99.0"),
            Row(product="b", event_time="2025-01-01 10:00:00", quantity="2",
                unit_price="3.0", total_price=None),
            Row(product="c", event_time="2025-01-01 10:00:00", quantity=None,
                unit_price=None, total_price=None),
        ]
    )
    out = conform(df, STREAMING_SPEC)
    assert rows(out, "product", "line_amount") == [("a", 99.0), ("b", 6.0), ("c", 0.0)]


def test_streaming_multiformat_timestamps(spark):
    cases = [
        ("iso-space", "2025-01-01 10:00:00"),
        ("iso-t", "2025-01-01T10:00:00"),
        ("millis", "2025-01-01 10:00:00.123"),
        ("offset", "2025-01-01T10:00:00+00:00"),
        ("bare-date", "2025-01-01"),
        ("junk", "not a time"),
    ]
    df = spark.createDataFrame(cases, ["product", "event_time"])
    out = conform(df, STREAMING_SPEC)
    got = dict(rows(out, "product", "order_ts"))
    assert "junk" not in got  # F3: unparseable dropped
    assert got["iso-space"] == datetime.datetime(2025, 1, 1, 10, 0, 0)
    assert got["iso-t"] == datetime.datetime(2025, 1, 1, 10, 0, 0)
    assert got["millis"] == datetime.datetime(2025, 1, 1, 10, 0, 0, 123000)
    assert got["offset"] == datetime.datetime(2025, 1, 1, 10, 0, 0)
    assert got["bare-date"] == datetime.datetime(2025, 1, 1, 0, 0, 0)


def test_streaming_epoch_default_when_no_ts_column(spark):
    # T7: no timestamp column AT ALL → epoch literal
    df = spark.createDataFrame([("a", "1", "2.0")], ["product", "quantity", "unit_price"])
    out = conform(df, STREAMING_SPEC)
    assert rows(out, "order_ts") == [(datetime.datetime(1970, 1, 1, 0, 0, 0),)]


def test_streaming_candidate_order_differs_from_batch(spark):
    # streaming prefers event_time over order_date; batch prefers order_date
    df = spark.createDataFrame(
        [("a", "2025-06-30", "2025-01-01 09:00:00", "1.0")],
        ["product", "order_date", "event_time", "amount"],
    )
    s_out = conform(df, STREAMING_SPEC)
    b_out = conform(df, BATCH_SPEC)
    assert rows(s_out, "order_date") == [(datetime.date(2025, 1, 1),)]
    assert rows(b_out, "order_date") == [(datetime.date(2025, 6, 30),)]


def test_observe_metrics(spark):
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [("a", "bad-date", "1.0"), ("b", "2025-01-01", "xx")],
        ["product", "order_date", "amount"],
    )
    obs = Observation("conform_metrics")
    out = conform(df, BATCH_SPEC, observation=obs)
    observation_rows = out.count()  # trigger an action
    assert observation_rows == 0  # both rows invalid
    assert obs.get["invalid_dates"] == 1
    assert obs.get["null_amounts"] == 1


# --- property-based: conform never crashes and keeps its contract ------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:
    _cell = st.one_of(
        st.none(),
        st.text(max_size=12),
        st.sampled_from(
            ["2024-01-05", "2024-01-05 10:00:00", "2024-01-05T10:00:00",
             "20240105", "garbage", "", " ", "12.5", "-3", "1e3"]
        ),
    )
    _headers = st.lists(
        st.sampled_from(
            ["product", "item", "PRODUCT ", "order_date", "date", "timestamp",
             "event_time", "amount", "quantity", "unit_price", "price", "extra"]
        ),
        min_size=1,
        max_size=6,
        unique=True,
    )

    @given(headers=_headers, data=st.data())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_conform_never_crashes_and_keeps_contract(spark, headers, data):
        """For ANY subset of known/unknown columns and ANY garbage cell
        values, conform() must analyze, run, and produce the contract
        columns with non-null product, valid dates, and non-null amounts."""
        rows = data.draw(
            st.lists(
                st.tuples(*[_cell for _ in headers]), min_size=0, max_size=5
            )
        )
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([StructField(h, StringType()) for h in headers])
        df = spark.createDataFrame(rows, schema)
        out = conform(df, BATCH_SPEC).collect()
        for r in out:
            assert r["product"] is not None and r["product"].strip() != ""
            assert r["order_date"] is not None
            assert r["amount"] is not None
