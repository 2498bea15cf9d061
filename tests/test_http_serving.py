"""End-to-end HTTP serving tests — the reference dashboards' endpoints
(`dashboard/app.py:21-50`, `streaming_dashboard/app.py:162-172`) served
from engine queries over stdlib http.server, payloads JSON-equal to the
serving-layer dicts."""

from __future__ import annotations

import json
import urllib.request

import pytest

from data_pipeline_example_spark import serving
from data_pipeline_example_spark.http_serving import DashboardServer, serve_dashboards
from data_pipeline_example_spark.operators import retail, windows
from data_pipeline_example_spark.plans.queries import _events_retail


def _get(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10) as resp:
        return resp.status, json.loads(resp.read().decode("utf-8"))


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    srv = serve_dashboards(spark, sf_dir)
    yield srv
    srv.stop()


def test_health(server):
    status, body = _get(server.port, "/health")
    assert status == 200
    assert body == {
        "status": "ok",
        "refreshed_at": server.refreshed_at,
        "last_error": None,
    }
    import datetime

    stamp = datetime.datetime.fromisoformat(body["refreshed_at"])
    assert stamp.utcoffset() == datetime.timedelta(0)


def test_daily_endpoint_equals_serving_payload(spark, sf_dir, server):
    status, body = _get(server.port, "/api/daily")
    assert status == 200
    expected = serving.daily_payload(
        retail.daily_revenue(_events_retail(spark, sf_dir))
    )
    assert body == json.loads(json.dumps(expected))  # same JSON round-trip
    assert body["status"] == "ok"
    assert len(body["daily"]) > 0
    assert len(body["top_products"]) <= 10


def test_stream_endpoint_equals_serving_payload(spark, sf_dir, server):
    status, body = _get(server.port, "/api/stream")
    assert status == 200
    expected = serving.stream_payload(
        windows.sliding_window_agg(_events_retail(spark, sf_dir), rounded=True)
    )
    assert body == json.loads(json.dumps(expected))
    assert body["status"] == "ok"
    assert len(body["window_health"]) <= serving.MAX_WINDOWS
    assert len(body["leaderboard"]) <= serving.MAX_LEADERBOARD


def _leaf_shape(obj, list_probe=2):
    """Structural skeleton of a JSON payload: dict → sorted key map,
    list → shapes of the first ``list_probe`` elements (lists are
    homogeneous records here), leaf → type name."""
    if isinstance(obj, dict):
        return {k: _leaf_shape(v, list_probe) for k, v in sorted(obj.items())}
    if isinstance(obj, list):
        return [_leaf_shape(x, list_probe) for x in obj[:list_probe]]
    return type(obj).__name__


# golden JSON shapes pinned from the reference dashboards:
# /api/daily  — dashboard/app.py:44-49 (jsonify keys + record fields)
# /api/stream — streaming_dashboard/app.py:79-154 (StreamPayload.to_json:
#   status/last_updated/summary/timeline/leaderboard/window_health/
#   raw_windows; record fields per builder; _format_ts → UTC ISO-8601 Z)
DAILY_RECORD_SHAPES = {
    "daily": {"order_date": "str", "total_amount": "float"},
    "top_products": {"product": "str", "total_amount": "float"},
    "sample": {"order_date": "str", "product": "str", "total_amount": "float"},
}
STREAM_RECORD_SHAPES = {
    "timeline": {"product": "str", "total_revenue": "float", "points": "list"},
    "leaderboard": {"product": "str", "window_end": "str", "revenue": "float"},
    "window_health": {
        "window_start": "str",
        "window_end": "str",
        "total_revenue": "float",
        "product_count": "int",
    },
}


def test_daily_payload_shape_matches_reference(server):
    """Byte-level JSON SHAPE parity with `dashboard/app.py:44-49`: same
    top-level keys, same record fields, same leaf JSON types."""
    _, body = _get(server.port, "/api/daily")
    assert sorted(body) == ["daily", "sample", "status", "top_products"]
    assert body["status"] == "ok"
    for key, record_shape in DAILY_RECORD_SHAPES.items():
        assert body[key], f"{key} empty — shape unverifiable"
        for rec in body[key]:
            assert _leaf_shape(rec) == record_shape, (key, rec)
    # reference serves order_date as the CSV string (ISO yyyy-mm-dd)
    assert all(len(r["order_date"]) == 10 for r in body["daily"])


def test_stream_payload_shape_matches_reference(server):
    """JSON SHAPE parity with `streaming_dashboard/app.py:79-154`
    (StreamPayload.to_json): key set, per-record fields, summary fields,
    and the `_format_ts` UTC `Z`-suffixed ISO-8601 timestamps."""
    _, body = _get(server.port, "/api/stream")
    assert sorted(body) == [
        "last_updated",
        "leaderboard",
        "raw_windows",
        "status",
        "summary",
        "timeline",
        "window_health",
    ]
    assert body["status"] == "ok"
    assert _leaf_shape(body["summary"]) == {
        "unique_products": "int",
        "windows": "int",
        "latest_window_end": "str",
    }
    assert isinstance(body["raw_windows"], int)
    for key, record_shape in STREAM_RECORD_SHAPES.items():
        assert body[key], f"{key} empty — shape unverifiable"
        for rec in body[key]:
            got = {
                k: ("list" if isinstance(v, list) else type(v).__name__)
                for k, v in sorted(rec.items())
            }
            assert got == record_shape, (key, rec)
    # timeline points: {window_start, window_end, revenue} per point
    for series in body["timeline"]:
        assert series["points"]
        for pt in series["points"]:
            assert _leaf_shape(pt) == {
                "window_start": "str",
                "window_end": "str",
                "revenue": "float",
            }
    # _format_ts parity: UTC ISO-8601 with Z suffix
    stamps = (
        [body["last_updated"], body["summary"]["latest_window_end"]]
        + [r["window_end"] for r in body["leaderboard"]]
        + [r["window_start"] for r in body["window_health"]]
    )
    assert all(s.endswith("Z") and "T" in s for s in stamps)


def test_unknown_route_404(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _get(server.port, "/api/nope")
    assert exc_info.value.code == 404


def test_refresh_is_atomic(server):
    server.refresh()
    status, body = _get(server.port, "/api/daily")
    assert status == 200 and body["status"] == "ok"


def test_server_without_stream_fn():
    srv = DashboardServer(daily_fn=lambda: {"status": "ok", "daily": []})
    srv.start()
    try:
        status, body = _get(srv.port, "/api/daily")
        assert status == 200 and body["daily"] == []
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            _get(srv.port, "/api/stream")
    finally:
        srv.stop()


def test_stop_without_start_does_not_hang():
    import threading

    from data_pipeline_example_spark.http_serving import DashboardServer

    srv = DashboardServer(daily_fn=lambda: {"x": 1})
    t = threading.Thread(target=srv.stop, daemon=True)
    t.start()
    t.join(timeout=5)
    assert not t.is_alive(), "stop() deadlocked without a started server"


def _get_raw(port: int, path: str):
    import urllib.request

    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10) as resp:
        return resp.status, resp.headers.get("Content-Type", ""), resp.read().decode("utf-8")


def test_ui_pages_served(server):
    """The presentational front-ends ride the same server: / (alias
    /daily) serves the batch page, /stream the streaming page, both
    self-contained text/html (inline SVG + vanilla JS — the reference's
    Chart.js UIs re-expressed dependency-free) wired to the SAME JSON
    endpoints the golden-shape tests pin."""
    for path, needle in [
        ("/", "/api/daily"),
        ("/daily", "Daily revenue"),
        ("/stream", "/api/stream"),
    ]:
        status, ctype, body = _get_raw(server.port, path)
        assert status == 200, path
        assert ctype.startswith("text/html"), path
        assert needle in body, path
        # self-contained: inline script only, no external fetches
        assert "<script>" in body and 'src="http' not in body, path


def test_ui_pages_reference_only_served_endpoints(server):
    """Every fetch() in the pages targets an endpoint this server
    actually serves — the UI can never point at a dead route."""
    import re

    served = {"/api/daily", "/api/stream", "/health"}
    for path in ("/", "/stream"):
        _, _, body = _get_raw(server.port, path)
        for url in re.findall(r"fetch\(\"([^\"]+)\"\)", body):
            assert url in served, (path, url)


def _flaky_daily(fail_on: set[int]):
    """A daily payload factory that raises on the given (1-based) calls."""
    calls = {"n": 0}

    def daily_fn():
        calls["n"] += 1
        if calls["n"] in fail_on:
            raise RuntimeError(f"refresh {calls['n']} failed")
        return {"status": "ok", "daily": [calls["n"]]}

    return daily_fn


def test_failed_refresh_keeps_last_payload_and_reports_stale():
    srv = DashboardServer(daily_fn=_flaky_daily({2}))
    srv.start()
    try:
        _, first_health = _get(srv.port, "/health")
        with pytest.raises(RuntimeError, match="refresh 2 failed"):
            srv.refresh()
        status, body = _get(srv.port, "/api/daily")
        assert status == 200 and body["daily"] == [1]  # last good payload
        status, health = _get(srv.port, "/health")
        assert status == 200
        assert health == {
            "status": "stale",
            "refreshed_at": first_health["refreshed_at"],
            "last_error": "RuntimeError: refresh 2 failed",
        }
        # the body is stable between refreshes (clients derive the age)
        assert _get(srv.port, "/health")[1] == health

        srv.refresh()  # a later good refresh clears the error
        _, body = _get(srv.port, "/api/daily")
        assert body["daily"] == [3]
        _, health = _get(srv.port, "/health")
        assert health["status"] == "ok" and health["last_error"] is None
        assert health["refreshed_at"] >= first_health["refreshed_at"]
    finally:
        srv.stop()


def test_main_survives_a_failing_refresh(monkeypatch, capsys):
    import types

    from data_pipeline_example_spark import http_serving, session

    servers = []

    def fake_serve(spark, sf_dir, host, port):
        srv = DashboardServer(daily_fn=_flaky_daily({2}), host="127.0.0.1")
        srv.start()
        servers.append(srv)
        return srv

    sleeps = {"n": 0}

    def fake_sleep(_seconds):
        sleeps["n"] += 1
        if sleeps["n"] > 2:  # two loop turns: one failing, one good refresh
            raise KeyboardInterrupt

    monkeypatch.setattr(session, "get_spark", lambda **_: None)
    monkeypatch.setattr(http_serving, "serve_dashboards", fake_serve)
    # patched in the module only: py4j's own threads sleep too
    monkeypatch.setattr(http_serving, "time", types.SimpleNamespace(sleep=fake_sleep))

    assert http_serving.main(["--sf-dir", "unused", "--port", "0"]) == 0
    (srv,) = servers
    assert srv.last_error is None and srv.refreshed_at is not None
    lines = capsys.readouterr().err.strip().splitlines()
    assert len(lines) == 1
    record = json.loads(lines[0])
    assert record["event"] == "refresh_failed"
    assert record["error"] == "RuntimeError: refresh 2 failed"
    assert "RuntimeError: refresh 2 failed" in record["traceback"]
