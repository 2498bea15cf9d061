"""HTTP serving layer — the reference dashboards' endpoints, stdlib-only.

The reference serves its payloads over Flask (`dashboard/app.py:21-50`
serves ``GET /api/daily``; `streaming_dashboard/app.py:162-172` serves
``GET /api/stream`` plus an ``/health`` probe). Flask isn't in this
container, so the same endpoints are exposed through
``http.server.ThreadingHTTPServer`` — zero dependencies, and the payload
dicts come verbatim from ``serving.daily_payload`` /
``serving.stream_payload``, so the HTTP layer adds routing and JSON
encoding only.

The presentational front-ends ride the same server: ``/`` (alias
``/daily``) and ``/stream`` serve the two self-contained HTML pages in
``dashboard_static/`` — behavior parity with the reference's Chart.js
UIs, rendered as dependency-free inline SVG instead (no CDN in the
serving environment, stdlib-only by contract).

Serving model (the 100 TB story): payloads are computed ONCE per refresh
by Spark (bounded collect — top-k / capped windows / one-row summaries)
and cached; request handling serves the cached dict and never touches
Spark. A refresh hook re-runs the queries on demand (the reference
re-aggregates per request in pandas — per-request Spark jobs would be
the same anti-pattern at scale, hence the cache-and-refresh contract).
A failed refresh keeps the last good payloads and shows up on
``/health`` as ``stale`` with its error; ``refreshed_at`` names the last
good refresh, so clients compute payload age themselves and the health
body stays byte-identical between refreshes.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
from collections.abc import Callable
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

PayloadFn = Callable[[], dict[str, Any]]

_STATIC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dashboard_static")
# UI routes — behavior parity with the reference front-ends
# (dashboard/static/index.html, streaming_dashboard/static/index.html),
# re-implemented as dependency-free inline-SVG pages; see the files'
# header comments for the parity notes and deliberate deviations
_PAGES = {
    "/": "daily.html",
    "/daily": "daily.html",
    "/stream": "stream.html",
}


class DashboardServer:
    """Serves ``/api/daily``, ``/api/stream`` and ``/health`` from
    payload factories. Factories run on refresh (not per request);
    ``refresh()`` recomputes both caches atomically. ``refreshed_at``
    (UTC ISO-8601) marks the last successful refresh and ``last_error``
    (``"<Type>: <msg>"``) the failure since then, if any."""

    def __init__(
        self,
        daily_fn: PayloadFn | None = None,
        stream_fn: PayloadFn | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self._daily_fn = daily_fn
        self._stream_fn = stream_fn
        self._cache: dict[str, dict[str, Any]] = {}
        self._lock = threading.Lock()
        self.refreshed_at: str | None = None
        self.last_error: str | None = None
        self.refresh()

        handler = self._make_handler()
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="dashboard-http", daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        # shutdown() blocks until a serve_forever() loop acknowledges it
        # — calling it without a started loop would deadlock, so it runs
        # only when start() actually ran; server_close() (releasing the
        # socket the constructor bound) is safe and needed either way
        if self._thread is not None:
            self._httpd.shutdown()
            self._thread.join(timeout=5)
            self._thread = None
        self._httpd.server_close()

    def refresh(self) -> None:
        """Recompute payloads (runs the Spark queries). Swaps the cache
        under the lock so readers always see a complete payload pair.
        A failing factory leaves the last good payloads in place,
        records ``last_error`` and re-raises."""
        fresh: dict[str, dict[str, Any]] = {}
        try:
            if self._daily_fn is not None:
                fresh["/api/daily"] = self._daily_fn()
            if self._stream_fn is not None:
                fresh["/api/stream"] = self._stream_fn()
        except Exception as exc:
            with self._lock:
                self.last_error = f"{type(exc).__name__}: {exc}"
            raise
        with self._lock:
            self._cache = fresh
            self.refreshed_at = datetime.now(timezone.utc).isoformat()
            self.last_error = None

    # -- request handling --------------------------------------------------

    def _payload_for(self, path: str) -> tuple[int, dict[str, Any]]:
        with self._lock:
            if path == "/health":  # streaming_dashboard/app.py health probe
                return 200, {
                    "status": "stale" if self.last_error else "ok",
                    "refreshed_at": self.refreshed_at,
                    "last_error": self.last_error,
                }
            payload = self._cache.get(path)
        if payload is None:
            return 404, {"status": "error", "error": f"no route {path}"}
        return 200, payload

    def _make_handler(self) -> type[BaseHTTPRequestHandler]:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 - stdlib API name
                path = self.path.split("?", 1)[0]
                page = _PAGES.get(path)
                if page is not None:
                    try:
                        with open(os.path.join(_STATIC_DIR, page), "rb") as f:
                            body = f.read()
                        status, ctype = 200, "text/html; charset=utf-8"
                    except OSError:
                        body = b'{"status": "error", "error": "static page missing"}'
                        status, ctype = 500, "application/json"
                else:
                    status, payload = outer._payload_for(path)
                    body = json.dumps(payload).encode("utf-8")
                    ctype = "application/json"
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args: Any) -> None:  # silence test noise
                pass

        return Handler


def serve_dashboards(
    spark,
    sf_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
) -> DashboardServer:
    """Wire the engine's queries to the two dashboard endpoints (the
    composition `dashboard/app.py` + `streaming_dashboard/app.py` run as
    one process). Returns the started server; caller stops it."""
    from data_pipeline_example_spark import serving
    from data_pipeline_example_spark.operators import retail, windows
    from data_pipeline_example_spark.plans.queries import _events_retail

    def daily_fn() -> dict[str, Any]:
        return serving.daily_payload(retail.daily_revenue(_events_retail(spark, sf_dir)))

    def stream_fn() -> dict[str, Any]:
        return serving.stream_payload(
            windows.sliding_window_agg(_events_retail(spark, sf_dir), rounded=True)
        )

    server = DashboardServer(daily_fn, stream_fn, host=host, port=port)
    server.start()
    return server


def main(argv: list[str] | None = None) -> int:
    """CLI twin of the reference's two Flask dashboard services
    (`dashboard/app.py` + `streaming_dashboard/app.py`, wired by the
    compose files): one process serving /api/daily, /api/stream,
    /health and the static front-ends, refreshed from the engine's
    queries over ``--sf-dir``. A failed refresh prints one JSON line to
    stderr and the server keeps serving the last good payloads."""
    import argparse

    from data_pipeline_example_spark.session import get_spark

    p = argparse.ArgumentParser(description="Serve the dashboard endpoints")
    p.add_argument("--sf-dir", required=True, help="parquet tables directory")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8050)
    p.add_argument("--refresh-seconds", type=int, default=60)
    p.add_argument("--master", default=None, help="spark master override")
    args = p.parse_args(argv)

    spark = get_spark(app_name="dashboards", master=args.master)
    server = serve_dashboards(spark, args.sf_dir, host=args.host, port=args.port)
    print(f"dashboards listening on {args.host}:{server.port}", flush=True)
    try:
        while True:
            time.sleep(args.refresh_seconds)
            try:
                server.refresh()
            except Exception:
                print(
                    json.dumps(
                        {
                            "event": "refresh_failed",
                            "error": server.last_error,
                            "refreshed_at": server.refreshed_at,
                            "traceback": traceback.format_exc(),
                        }
                    ),
                    file=sys.stderr,
                    flush=True,
                )
    except KeyboardInterrupt:
        server.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
