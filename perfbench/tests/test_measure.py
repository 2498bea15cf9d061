"""Unit tests of the benchmark's pure-Python parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import measure  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 21)]  # 1..20
    pct, value, n = measure.tail(values)
    assert (pct, value, n) == (50.0, 10.0, 20)
    pct, value, n = measure.tail(list(reversed(range(100))))
    assert (pct, value, n) == (90.0, 89, 100)
    assert sum(v > value for v in range(100)) == 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        measure.tail([1.0] * 10)
    assert measure.tail([1.0] * 11) == (100.0 * 1 / 11, 1.0, 11)


def test_median():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        measure.median([])


def test_fail_frac():
    assert measure.fail_frac(0, 40) == 0.0
    assert measure.fail_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        measure.fail_frac(0, 0)
    with pytest.raises(ValueError):
        measure.fail_frac(5, 4)


@pytest.mark.parametrize(
    "stage, cls",
    [
        ("parquet at NativeMethodAccessorImpl.java:0", "schema"),
        ("localCheckpoint at NativeMethodAccessorImpl.java:0", "checkpoint"),
        ("checkpoint at NativeMethodAccessorImpl.java:0", "checkpoint"),
        ("count at NativeMethodAccessorImpl.java:0", "checkpoint"),
        ("isEmpty at NativeMethodAccessorImpl.java:0", "checkpoint"),
        ("collect at operators/similarity.py:970", "collect"),
        ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", "other"),
        ("save at NativeMethodAccessorImpl.java:0", "other"),
        ("", "other"),
    ],
)
def test_classify_job(stage, cls):
    assert measure.classify_job(stage) == cls


def test_event_log_fixture_groups_and_classes():
    stats = measure.read_event_log(FIXTURE)
    assert set(stats) == {"c:q", "x:q"}
    c, x = stats["c:q"], stats["x:q"]
    # construct: one schema inference, one localCheckpoint (plus the
    # adaptive query-stage job it spawned), one collect
    assert c.jobs == 4
    assert c.classes == {"schema": 1, "checkpoint": 1, "collect": 1, "other": 1}
    assert x.jobs == 3 and x.classes["other"] == 3
    assert x.stages == 3 and x.tasks == 3
    assert x.shuffle_read_bytes == 348 and x.shuffle_write_bytes == 348
    assert x.spill_bytes == 0 and x.cpu_ns > 0
    both = measure.sum_groups(stats, "")
    assert both.jobs == 7 and both.classes["checkpoint"] == 1


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert measure.METRIC_NAME.match(name), name
        assert len(name) <= 64


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_design_lists_partition_the_census():
    with open(run.DESIGN) as fh:
        design = json.load(fh)
    eager = design["workloads"]["queries-eager"]
    lazy = design["workloads"]["queries-lazy"]
    assert len(eager["frozen"]) == 77 and len(lazy["frozen"]) == 70
    assert not set(eager["frozen"]) & set(lazy["frozen"])
    for w in (eager, lazy):
        assert set(w["timed"]) <= set(w["frozen"])
        # the pooled ops of the fewest passes leave ten beyond the tail
        assert run.QUERY_PASSES * len(w["timed"]) > 20


def test_timed_subset_follows_its_rule():
    import census

    with open(run.DESIGN) as fh:
        design = json.load(fh)
    eager = design["workloads"]["queries-eager"]
    recorded = design["census_sf0.01"]["queries"]
    assert set(recorded) == set(eager["frozen"])
    queries = {n: {"construct_s": c, "execute_s": x} for n, (c, x, _jobs) in recorded.items()}
    assert census.pick_timed(queries, eager["frozen"], eager["served_warm"]) == eager["timed"]


def test_compare_tables_tolerance():
    norm = str
    cols = ["d", "v"]
    assert run.compare_tables(cols, [("a", 164370.9)], cols, [("a", 164370.89)], norm) is None
    assert run.compare_tables(cols, [("a", 1.0)], cols, [("a", 1.1)], norm) is not None
    assert run.compare_tables(cols, [("a", 1.0)], ["v", "d"], [(1.0, "a")], norm) is None
    assert run.compare_tables(cols, [("a", 1.0)], cols, [("b", 1.0)], norm) is not None
    assert run.compare_tables(cols, [], cols, [("a", 1.0)], norm) is not None


def test_stream_replay_drops_late_rows_against_the_previous_watermark(tmp_path):
    import datetime as dt

    import duckdb
    import etl

    def write(i, hour, amount):
        (tmp_path / f"batch-{i:03d}.json").write_text(json.dumps(
            {"event_time": f"2024-01-01 {hour:02d}:00:00", "product": "A",
             "total_price": f"{amount:.2f}"}) + "\n")

    write(0, 10, 1.0)
    write(1, 20, 2.0)
    write(2, 10, 4.0)  # behind, but within the watermark batch 1 ran under
    write(3, 10, 8.0)  # behind the watermark batch 2 ran under: dropped
    want = etl.expected_windows(duckdb.connect(), etl.Inputs("", str(tmp_path), 0))
    ten = int(dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc).timestamp())
    # the four sliding windows holding 10:00 close; 20:00's stay open
    assert want == {(ten + k * 900 - 2700, ten + k * 900 + 900, "A"): 5.0 for k in range(4)}


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(20)]
    a = run.pass_order(names, 7, 0)
    assert sorted(a) == sorted(names)
    assert a == run.pass_order(names, 7, 0)
    assert a != run.pass_order(names, 8, 0)
